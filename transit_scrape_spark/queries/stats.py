"""Statistical estimators over the warehouse tables: effect sizes,
confidence intervals, agreement/reliability, correlation and
control-chart ops. Split from the original stats.py in round 6
(was 7,127 LoC); hypothesis tests live in stats_tests.py,
distribution fits/tail estimators in stats_distributions.py.
Every op registers via @query with an inline DuckDB oracle;
shapes follow the same bounded-window/broadcast discipline
audited by tools/audit_plans.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from transit_scrape_spark.operators.dedup import sql_string_hash
from transit_scrape_spark.queries.registry import query
from transit_scrape_spark.session import cache_width
from transit_scrape_spark.sources.tables import load_table


@query(
    "timeseries-theil-sen",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS m
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        )
        SELECT a.event_type,
               CAST(count(*) AS BIGINT) AS n_pairs,
               round(quantile_cont((b.m - a.m)
                     / date_diff('day', a.day, b.day), 0.5), 6) AS sen_slope
        FROM daily a
        JOIN daily b ON a.event_type = b.event_type AND a.day < b.day
        GROUP BY a.event_type
        ORDER BY a.event_type
    """,
    doc="Theil-Sen robust trend estimator per event_type: median of all "
    "pairwise slopes (m_j - m_i)/(day_j - day_i) over the daily-mean "
    "series. The O(n^2) pair join runs on the per-day AGGREGATE "
    "(~30 rows/series -> ~435 pairs), never raw events, and is "
    "co-partitioned by series key so each series' pairs stay local "
    "— the standard way a quadratic estimator survives scale: "
    "quadratic in the summary, linear in the facts. Exact "
    "interpolated median via percentile/quantile_cont on both "
    "sides.",
    tags=("stats", "timeseries"),
)
def timeseries_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("m")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.m") - F.col("a.m"))
            / F.datediff(F.col("b.day"), F.col("a.day"))
        ).alias("slope"),
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.expr("percentile(slope, 0.5)"), 6).alias("sen_slope"),
        )
        .orderBy("event_type")
    )


@query(
    "stats-spearman-corr",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   avg(CASE WHEN event_type = 'click' THEN value END) AS x,
                   avg(CASE WHEN event_type = 'view' THEN value END) AS y
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY CAST(ts AS DATE)
            HAVING count(CASE WHEN event_type = 'click' THEN 1 END) > 0
               AND count(CASE WHEN event_type = 'view' THEN 1 END) > 0
        ),
        ranked AS (
            SELECT row_number() OVER (ORDER BY x, day) AS rx,
                   row_number() OVER (ORDER BY y, day) AS ry
            FROM daily
        )
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               round(corr(CAST(rx AS DOUBLE), CAST(ry AS DOUBLE)), 6)
                   AS spearman_rho,
               round(1 - 6 * sum(power(CAST(rx AS DOUBLE) - ry, 2))
                         / (count(*) * (power(count(*), 2) - 1.0)), 6)
                   AS rho_formula
        FROM ranked
    """,
    doc="Spearman rank correlation between daily mean click value and "
    "daily mean view value: the fact pass is one conditional "
    "groupBy(day) aggregation; BOTH rankings run over the ~30-row "
    "daily summary (rank the aggregate, never the facts — a global "
    "row_number over raw events is the single-partition sort that "
    "kills rank statistics at scale). rho computed two ways — "
    "Pearson-on-ranks and the classic 1 - 6*sum(d^2)/(n(n^2-1)) — "
    "which must agree because continuous daily means plus a "
    "deterministic (value, day) tie-break make ranks a permutation. "
    "Cross-checking the two forms in one output row is the test.",
    tags=("stats", "timeseries"),
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    click = F.when(F.col("event_type") == "click", F.col("value"))
    view = F.when(F.col("event_type") == "view", F.col("value"))
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.avg(click).alias("x"),
            F.avg(view).alias("y"),
            F.count(click).alias("nx"),
            F.count(view).alias("ny"),
        )
        .filter((F.col("nx") > 0) & (F.col("ny") > 0))
    )
    ranked = daily.select(
        F.row_number().over(Window.orderBy("x", "day")).alias("rx"),
        F.row_number().over(Window.orderBy("y", "day")).alias("ry"),
    )
    rx = F.col("rx").cast("double")
    ry = F.col("ry").cast("double")
    n = F.count("*")
    return ranked.agg(
        n.cast("long").alias("n_days"),
        F.round(F.corr(rx, ry), 6).alias("spearman_rho"),
        F.round(
            1 - 6 * F.sum(F.pow(rx - ry, 2)) / (n * (F.pow(n, 2) - 1.0)),
            6,
        ).alias("rho_formula"),
    )


@query(
    "stats-mutual-information",
    oracle="""
        WITH cells AS (
            SELECT event_type AS x, CAST(user_id % 4 AS BIGINT) AS y,
                   CAST(count(*) AS DOUBLE) AS c
            FROM events GROUP BY event_type, user_id % 4
        ),
        p AS (
            SELECT x, y, c / sum(c) OVER () AS pxy,
                   sum(c) OVER (PARTITION BY x) / sum(c) OVER () AS px,
                   sum(c) OVER (PARTITION BY y) / sum(c) OVER () AS py
            FROM cells
        )
        SELECT round(sum(pxy * ln(pxy / (px * py))), 6) AS mi_nats,
               -- marginal entropies over proper per-margin rollups: the
               -- min-key-slice form drops terms on sparse grids
               round((SELECT -sum((cx / tn) * ln(cx / tn)) FROM (
                   SELECT x, sum(c) AS cx, sum(sum(c)) OVER () AS tn
                   FROM cells GROUP BY x)), 6) AS h_x,
               round((SELECT -sum((cy / tn) * ln(cy / tn)) FROM (
                   SELECT y, sum(c) AS cy, sum(sum(c)) OVER () AS tn
                   FROM cells GROUP BY y)), 6) AS h_y,
               round(sum(pxy * ln(pxy / (px * py)))
                     / least(
                         (SELECT -sum((cx / tn) * ln(cx / tn)) FROM (
                             SELECT x, sum(c) AS cx,
                                    sum(sum(c)) OVER () AS tn
                             FROM cells GROUP BY x)),
                         (SELECT -sum((cy / tn) * ln(cy / tn)) FROM (
                             SELECT y, sum(c) AS cy,
                                    sum(sum(c)) OVER () AS tn
                             FROM cells GROUP BY y))), 6)
                   AS nmi
        FROM p
    """,
    doc="Mutual information I(event_type; user segment) in nats, with "
    "marginal entropies and min-normalized NMI: ONE hash aggregation "
    "builds the r x c contingency table; joint and marginal "
    "probabilities ride windows over the 20-cell summary, and the "
    "MI/entropy sums reduce it to one row. Marginal entropies are "
    "summed over one representative slice of the cell grid (the "
    "min-key row/column) rather than a second DISTINCT pass — every "
    "quantity from a single fact scan. The information-theoretic "
    "companion to stats-chi-square on the same table: chi2 tests "
    "independence, MI measures its strength in bits/nats.",
    tags=("stats",),
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persist the BOUNDED contingency summary (<= #event_types x 4
    # cells at any scale) as ONE cached partition: the joint window
    # pass, the total, and both marginal entropies re-consumed it (5
    # events scans). r11 tried this persist at the session's static
    # 32-partition cache width and reverted (+48% — cache machinery
    # over near-empty partitions); coalesce(1) removes that drag.
    cells = (
        ev.groupBy(
            F.col("event_type").alias("x"),
            (F.col("user_id") % 4).cast("long").alias("y"),
        )
        .agg(F.count("*").cast("double").alias("c"))
        .coalesce(1)
        .persist()
    )
    w_all = Window.partitionBy()
    p = cells.select(
        "x",
        "y",
        (F.col("c") / F.sum("c").over(w_all)).alias("pxy"),
        (
            F.sum("c").over(Window.partitionBy("x")) / F.sum("c").over(w_all)
        ).alias("px"),
        (
            F.sum("c").over(Window.partitionBy("y")) / F.sum("c").over(w_all)
        ).alias("py"),
    )
    mi = F.sum(F.col("pxy") * F.log(F.col("pxy") / (F.col("px") * F.col("py"))))
    # marginal entropies from proper per-margin aggregates over the
    # bounded cells summary: the previous min-key-slice trick dropped a
    # margin's entropy term whenever that margin had no cell at the
    # slicing key — fine on a dense grid, silently wrong on a sparse
    # one (the g-test/kappa sparse-grid class, hardened proactively).
    tot = cells.agg(F.sum("c").alias("tn"))
    hx_df = (
        cells.groupBy("x").agg(F.sum("c").alias("cx"))
        .crossJoin(F.broadcast(tot))
        .agg(
            (-F.sum(
                (F.col("cx") / F.col("tn"))
                * F.log(F.col("cx") / F.col("tn"))
            )).alias("h_x")
        )
    )
    hy_df = (
        cells.groupBy("y").agg(F.sum("c").alias("cy"))
        .crossJoin(F.broadcast(tot))
        .agg(
            (-F.sum(
                (F.col("cy") / F.col("tn"))
                * F.log(F.col("cy") / F.col("tn"))
            )).alias("h_y")
        )
    )
    return (
        p.agg(mi.alias("mi"))
        .crossJoin(F.broadcast(hx_df))
        .crossJoin(F.broadcast(hy_df))
        .select(
            F.round("mi", 6).alias("mi_nats"),
            F.round("h_x", 6).alias("h_x"),
            F.round("h_y", 6).alias("h_y"),
            F.round(
                F.col("mi") / F.least(F.col("h_x"), F.col("h_y")), 6
            ).alias("nmi"),
        )
    )


@query(
    "timeseries-granger-1lag",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS DOUBLE) AS c,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS DOUBLE) AS v
            FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
        ),
        lagged AS (
            SELECT c AS y, lag(c) OVER (ORDER BY day) AS x1,
                   lag(v) OVER (ORDER BY day) AS x2
            FROM daily
        ),
        cc AS (SELECT * FROM lagged WHERE x1 IS NOT NULL),
        ctr AS (
            SELECT y - avg(y) OVER () AS yc,
                   x1 - avg(x1) OVER () AS x1c,
                   x2 - avg(x2) OVER () AS x2c
            FROM cc
        ),
        s AS (
            SELECT count(*) AS n,
                   sum(yc * yc) AS syy, sum(x1c * x1c) AS s11,
                   sum(x2c * x2c) AS s22, sum(x1c * x2c) AS s12,
                   sum(x1c * yc) AS s1y, sum(x2c * yc) AS s2y
            FROM ctr
        )
        SELECT CAST(n AS BIGINT) AS n,
               round((s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12), 6)
                   AS beta_own_lag,
               round((s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12), 6)
                   AS beta_cross_lag,
               round(((syy - s1y * s1y / s11)
                      - (syy - (s22 * s1y - s12 * s2y)
                               / (s11 * s22 - s12 * s12) * s1y
                             - (s11 * s2y - s12 * s1y)
                               / (s11 * s22 - s12 * s12) * s2y))
                     / ((syy - (s22 * s1y - s12 * s2y)
                               / (s11 * s22 - s12 * s12) * s1y
                             - (s11 * s2y - s12 * s1y)
                               / (s11 * s22 - s12 * s12) * s2y)
                        / (n - 3)), 6) AS granger_f
        FROM s
    """,
    doc="Granger causality test (1 lag): does yesterday's view count "
    "help predict today's click count beyond yesterday's clicks? "
    "OLS solved in CLOSED FORM from the 2x2 normal equations on "
    "mean-centered sums (beta = inv([[S11,S12],[S12,S22]]) * "
    "[S1y,S2y]) — no ML library, no iteration: one fact-table hash "
    "agg to the daily series, lag + centering windows over the "
    "~30-row summary, then a single-row moment aggregation carries "
    "everything the F-statistic needs. F = (RSS_restricted - "
    "RSS_unrestricted) / (RSS_u / (n-3)). The template for pushing "
    "ANY small-k regression to 100 TB: stream the k x k moment "
    "matrix (map-side combinable sums), solve on the summary.",
    tags=("stats", "timeseries"),
)
def timeseries_granger_1lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("c"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("v"),
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        F.col("c").alias("y"),
        F.lag("c").over(w).alias("x1"),
        F.lag("v").over(w).alias("x2"),
    ).filter(F.col("x1").isNotNull())
    w_all = Window.partitionBy()
    ctr = lagged.select(
        (F.col("y") - F.avg("y").over(w_all)).alias("yc"),
        (F.col("x1") - F.avg("x1").over(w_all)).alias("x1c"),
        (F.col("x2") - F.avg("x2").over(w_all)).alias("x2c"),
    )
    s = ctr.agg(
        F.count("*").alias("n"),
        F.sum(F.col("yc") * F.col("yc")).alias("syy"),
        F.sum(F.col("x1c") * F.col("x1c")).alias("s11"),
        F.sum(F.col("x2c") * F.col("x2c")).alias("s22"),
        F.sum(F.col("x1c") * F.col("x2c")).alias("s12"),
        F.sum(F.col("x1c") * F.col("yc")).alias("s1y"),
        F.sum(F.col("x2c") * F.col("yc")).alias("s2y"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s22") * F.col("s1y") - F.col("s12") * F.col("s2y")) / det
    b2 = (F.col("s11") * F.col("s2y") - F.col("s12") * F.col("s1y")) / det
    rss_u = F.col("syy") - b1 * F.col("s1y") - b2 * F.col("s2y")
    rss_r = F.col("syy") - F.col("s1y") * F.col("s1y") / F.col("s11")
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(b1, 6).alias("beta_own_lag"),
        F.round(b2, 6).alias("beta_cross_lag"),
        F.round((rss_r - rss_u) / (rss_u / (F.col("n") - 3)), 6).alias(
            "granger_f"
        ),
    )


_CRONBACH_ITEMS = ("click", "error", "purchase", "signup", "view")


@query(
    "stats-cronbach-alpha",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   {", ".join(
                       f"avg(CASE WHEN event_type = '{t}' THEN value END)"
                       f" AS i{n}" for n, t in enumerate(_CRONBACH_ITEMS))}
            FROM events GROUP BY CAST(ts AS DATE)
            HAVING {" AND ".join(
                f"count(CASE WHEN event_type = '{t}' THEN 1 END) > 0"
                for t in _CRONBACH_ITEMS)}
        )
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               round({" + ".join(f"var_samp(i{n})"
                                 for n in range(len(_CRONBACH_ITEMS)))}, 6)
                   AS sum_item_var,
               round(var_samp({" + ".join(f"i{n}"
                              for n in range(len(_CRONBACH_ITEMS)))}), 6)
                   AS total_var,
               round({len(_CRONBACH_ITEMS)} / ({len(_CRONBACH_ITEMS)} - 1.0)
                     * (1 - ({" + ".join(f"var_samp(i{n})"
                              for n in range(len(_CRONBACH_ITEMS)))})
                            / var_samp({" + ".join(f"i{n}"
                              for n in range(len(_CRONBACH_ITEMS)))})), 6)
                   AS cronbach_alpha
        FROM daily
    """,
    doc="Cronbach's alpha internal-consistency coefficient treating the "
    "five event types' daily mean values as test items and days as "
    "subjects: alpha = k/(k-1) * (1 - sum(var_item)/var(total)). "
    "One conditional-aggregate pass pivots the facts to the "
    "day x item matrix (complete-case days only), then one "
    "summary aggregation produces every variance — the "
    "psychometric reliability statistic as two hash aggs, the "
    "wide-pivot-then-moment shape any metric-battery consistency "
    "check uses at scale.",
    tags=("stats",),
)
def stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    aggs, havings = [], []
    for n, t in enumerate(_CRONBACH_ITEMS):
        item = F.when(F.col("event_type") == t, F.col("value"))
        aggs.append(F.avg(item).alias(f"i{n}"))
        havings.append(F.count(item).alias(f"n{n}"))
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(*aggs, *havings)
    for n in range(len(_CRONBACH_ITEMS)):
        daily = daily.filter(F.col(f"n{n}") > 0)
    k = len(_CRONBACH_ITEMS)
    sum_var = sum(
        (F.var_samp(f"i{n}") for n in range(1, k)), F.var_samp("i0")
    )
    total = sum((F.col(f"i{n}") for n in range(1, k)), F.col("i0"))
    return daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(sum_var, 6).alias("sum_item_var"),
        F.round(F.var_samp(total), 6).alias("total_var"),
        F.round(
            k / (k - 1.0) * (1 - sum_var / F.var_samp(total)), 6
        ).alias("cronbach_alpha"),
    )


@query(
    "stats-mahalanobis-outliers",
    oracle="""
        WITH feat AS (
            SELECT o.o_orderkey, o.o_totalprice AS p,
                   CAST(count(l.l_orderkey) AS DOUBLE) AS q
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_totalprice
        ),
        m AS (
            SELECT avg(p) AS mp, avg(q) AS mq,
                   var_pop(p) AS vp, var_pop(q) AS vq,
                   covar_pop(p, q) AS c
            FROM feat
        )
        SELECT f.o_orderkey, round(f.p, 2) AS totalprice,
               CAST(f.q AS BIGINT) AS n_items,
               round(((f.p - mp) * (f.p - mp) * vq
                      - 2 * (f.p - mp) * (f.q - mq) * c
                      + (f.q - mq) * (f.q - mq) * vp)
                     / (vp * vq - c * c), 6) AS mahalanobis_sq
        FROM feat f, m
        ORDER BY mahalanobis_sq DESC, f.o_orderkey
        LIMIT 20
    """,
    doc="Multivariate outlier detection: squared Mahalanobis distance "
    "of each order in the (total price, item count) plane, top-20 "
    "most anomalous — catches price/size combinations that neither "
    "univariate z-score would flag (cheap-but-huge, "
    "costly-but-tiny). The 2x2 covariance inverts in CLOSED FORM, "
    "so the plan is: one join+agg builds the feature relation, one "
    "single-row moment aggregation (mean/var/cov — all map-side "
    "combinable), broadcast back, per-row distance in codegen, "
    "TakeOrderedAndProject for the top-k. The k-feature "
    "generalization streams the k x k moment matrix the same way "
    "(timeseries-granger-1lag shows the pattern) and solves on "
    "the driver.",
    tags=("stats",),
)
def stats_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    feat = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.count("*").cast("double").alias("q"))
        .select("o_orderkey", F.col("o_totalprice").alias("p"), "q")
    )
    m = feat.agg(
        F.avg("p").alias("mp"),
        F.avg("q").alias("mq"),
        F.var_pop("p").alias("vp"),
        F.var_pop("q").alias("vq"),
        F.covar_pop("p", "q").alias("c"),
    )
    dp = F.col("p") - F.col("mp")
    dq = F.col("q") - F.col("mq")
    d2 = (
        dp * dp * F.col("vq") - 2 * dp * dq * F.col("c") + dq * dq * F.col("vp")
    ) / (F.col("vp") * F.col("vq") - F.col("c") * F.col("c"))
    return (
        feat.crossJoin(F.broadcast(m))
        .select(
            "o_orderkey",
            F.round("p", 2).alias("totalprice"),
            F.col("q").cast("long").alias("n_items"),
            F.round(d2, 6).alias("mahalanobis_sq"),
        )
        .orderBy(F.col("mahalanobis_sq").desc(), "o_orderkey")
        .limit(20)
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "agg-corr-matrix",
    oracle=f"""
        WITH pairs AS (
            {" UNION ALL ".join(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"corr({a}, {b}) AS r, covar_samp({a}, {b}) AS cov "
                f"FROM lineitem"
                for i, a in enumerate(_CORR_COLS)
                for b in _CORR_COLS[i + 1:])}
        )
        SELECT col_a, col_b, round(r, 6) AS pearson_r,
               round(cov, 6) AS covariance
        FROM pairs ORDER BY col_a, col_b
    """,
    doc="Full pairwise Pearson correlation matrix (upper triangle) of "
    "the four lineitem numeric measures in ONE fact scan: all six "
    "corr() and covar_samp() states accumulate side by side in a "
    "single hash-free scalar aggregation — each is a streaming "
    "5-tuple of moments, map-side combinable, so the matrix costs "
    "one pass regardless of how many pairs (k^2 states of O(1) "
    "each, the same trick MLlib's Statistics.corr uses). The "
    "oracle spells it as per-pair scans; Spark's single "
    "multi-aggregate plan must produce identical numbers — that "
    "equivalence (fused scan == per-pair scans) is what the "
    "parity check proves.",
    tags=("stats",),
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            aggs.append(F.corr(a, b).alias(f"r_{a}_{b}"))
            aggs.append(F.covar_samp(a, b).alias(f"c_{a}_{b}"))
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', r_{a}_{b}, c_{a}_{b}"
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    )
    n_pairs = sum(1 for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:])
    return (
        wide.selectExpr(
            f"stack({n_pairs}, {stack_args}) AS (col_a, col_b, r, cov)"
        )
        .select(
            "col_a",
            "col_b",
            F.round("r", 6).alias("pearson_r"),
            F.round("cov", 6).alias("covariance"),
        )
        .orderBy("col_a", "col_b")
    )


@query(
    "stats-delta-method-ci",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN value ELSE 0 END) AS DOUBLE) AS rev,
                   CAST(count(*) AS DOUBLE) AS n_ev
            FROM events GROUP BY user_id
        ),
        m AS (
            SELECT count(*) AS n, avg(rev) AS mx, avg(n_ev) AS my,
                   var_samp(rev) AS vx, var_samp(n_ev) AS vy,
                   covar_samp(rev, n_ev) AS cxy
            FROM per_user
        )
        SELECT CAST(n AS BIGINT) AS n_users,
               round(mx / my, 6) AS revenue_per_event,
               round((mx / my) * (mx / my)
                     * (vx / (mx * mx) + vy / (my * my)
                        - 2 * cxy / (mx * my)) / n, 6) AS var_delta,
               round(mx / my - 1.959964
                     * sqrt((mx / my) * (mx / my)
                            * (vx / (mx * mx) + vy / (my * my)
                               - 2 * cxy / (mx * my)) / n), 6) AS ci_lo,
               round(mx / my + 1.959964
                     * sqrt((mx / my) * (mx / my)
                            * (vx / (mx * mx) + vy / (my * my)
                               - 2 * cxy / (mx * my)) / n), 6) AS ci_hi
        FROM m
    """,
    doc="Delta-method confidence interval for a RATIO metric (revenue "
    "per event, unit = user): naive per-event variance is wrong "
    "because events cluster within users — the experimentation-"
    "platform classic. var(X/Y) ~ (mx/my)^2 * (vx/mx^2 + vy/my^2 "
    "- 2*cov/(mx*my)) / n over per-USER aggregates (the "
    "randomization unit). One fact hash agg to user rollups, one "
    "moment aggregation (mean/var/cov all map-side combinable), "
    "scalar algebra on the 1-row summary. The pattern behind "
    "every CUPED/ratio-metric readout at 100 TB.",
    tags=("stats",),
)
def stats_delta_method_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            )
        )
        .cast("double")
        .alias("rev"),
        F.count("*").cast("double").alias("n_ev"),
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.avg("rev").alias("mx"),
        F.avg("n_ev").alias("my"),
        F.var_samp("rev").alias("vx"),
        F.var_samp("n_ev").alias("vy"),
        F.covar_samp("rev", "n_ev").alias("cxy"),
    )
    r = F.col("mx") / F.col("my")
    var_d = (
        r
        * r
        * (
            F.col("vx") / (F.col("mx") * F.col("mx"))
            + F.col("vy") / (F.col("my") * F.col("my"))
            - 2 * F.col("cxy") / (F.col("mx") * F.col("my"))
        )
        / F.col("n")
    )
    z = F.lit(1.959964)
    return m.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(r, 6).alias("revenue_per_event"),
        F.round(var_d, 6).alias("var_delta"),
        F.round(r - z * F.sqrt(var_d), 6).alias("ci_lo"),
        F.round(r + z * F.sqrt(var_d), 6).alias("ci_hi"),
    )


@query(
    "stats-rank-biased-overlap",
    oracle="""
        WITH tok AS (
            SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS grp,
                   unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ),
        ranked AS (
            SELECT grp, w,
                   row_number() OVER (PARTITION BY grp
                                      ORDER BY count(*) DESC, w) AS r
            FROM tok WHERE w <> '' GROUP BY grp, w
        ),
        ra AS (SELECT w, r FROM ranked WHERE grp = 'en' AND r <= 20),
        rb AS (SELECT w, r FROM ranked WHERE grp = 'other' AND r <= 20),
        pairs AS (
            SELECT ra.r AS r1, rb.r AS r2
            FROM ra JOIN rb ON ra.w = rb.w
        ),
        depths AS (SELECT unnest(range(1, 21)) AS d),
        agreement AS (
            SELECT d.d,
                   CAST((SELECT count(*) FROM pairs p
                         WHERE p.r1 <= d.d AND p.r2 <= d.d) AS DOUBLE)
                       / d.d AS a_d
            FROM depths d
        )
        SELECT round((1 - 0.9) * sum(power(0.9, d - 1) * a_d), 6)
                   AS rbo_p09,
               round(max(CASE WHEN d = 20 THEN a_d END), 6)
                   AS overlap_at_20
        FROM agreement
    """,
    doc="Rank-biased overlap (Webber et al.) between the top-20 token "
    "rankings of the English vs non-English sub-corpora: RBO(p=0.9) "
    "= (1-p) * sum_d p^(d-1) * |A_d intersect B_d| / d — the "
    "top-weighted, length-tolerant way to compare two rankings "
    "(Kendall needs identical item sets; RBO doesn't). Heavy "
    "passes: one token count agg per the usual vocabulary-bounded "
    "shape, per-group ranking via WindowGroupLimit-prunable "
    "row_number. The overlap-at-every-depth table comes from a "
    "20-row depth spine range-joined against the matched-rank "
    "pairs — all summary-sized. The ranking-drift monitor for "
    "search/recsys: compare yesterday's top-k to today's.",
    tags=("stats", "text"),
)
def stats_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.when(F.col("lang") == "en", "en").otherwise("other").alias("grp"),
        F.explode(F.split(F.lower("text"), " ")).alias("w"),
    ).filter(F.col("w") != "")
    counted = tok.groupBy("grp", "w").agg(F.count("*").alias("n"))
    wr = Window.partitionBy("grp").orderBy(F.col("n").desc(), "w")
    ranked = counted.select(
        "grp", "w", F.row_number().over(wr).alias("r")
    ).filter(F.col("r") <= 20)
    ra = ranked.filter(F.col("grp") == "en").select(
        "w", F.col("r").alias("r1")
    )
    rb = ranked.filter(F.col("grp") == "other").select(
        "w", F.col("r").alias("r2")
    )
    pairs = ra.join(rb, "w").select("r1", "r2")
    depths = spark.range(1, 21).select(F.col("id").alias("d"))
    agreement = (
        depths.join(
            F.broadcast(pairs),
            (F.col("r1") <= F.col("d")) & (F.col("r2") <= F.col("d")),
            "left",
        )
        .groupBy("d")
        .agg(
            (F.count("r1").cast("double") / F.first("d")).alias("a_d")
        )
    )
    return agreement.agg(
        F.round(
            (1 - 0.9)
            * F.sum(F.pow(F.lit(0.9), F.col("d") - 1) * F.col("a_d")),
            6,
        ).alias("rbo_p09"),
        F.round(
            F.max(F.when(F.col("d") == 20, F.col("a_d"))), 6
        ).alias("overlap_at_20"),
    )


@query(
    "stats-odds-ratio",
    oracle="""
        WITH cells AS (
            SELECT CAST(sum(CASE WHEN user_id % 2 = 0 AND
                                      event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS a,
                   CAST(sum(CASE WHEN user_id % 2 = 0 AND
                                      event_type <> 'purchase'
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS b,
                   CAST(sum(CASE WHEN user_id % 2 = 1 AND
                                      event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS c,
                   CAST(sum(CASE WHEN user_id % 2 = 1 AND
                                      event_type <> 'purchase'
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS d
            FROM events
        )
        SELECT round((a * d) / (b * c), 6) AS odds_ratio,
               round(exp(ln((a * d) / (b * c))
                         - 1.959964 * sqrt(1/a + 1/b + 1/c + 1/d)), 6)
                   AS ci_lo,
               round(exp(ln((a * d) / (b * c))
                         + 1.959964 * sqrt(1/a + 1/b + 1/c + 1/d)), 6)
                   AS ci_hi
        FROM cells
    """,
    doc="Odds ratio of purchasing between the two user-id-parity "
    "segments, with the Woolf log-OR 95% CI (se = sqrt(sum of "
    "reciprocal cell counts)): the 2x2 table collapses out of the "
    "fact scan in ONE conditional aggregation — four sums, "
    "map-side combinable, no groupBy shuffle at all — and the "
    "ratio + CI are scalar algebra on the single summary row. "
    "The epidemiology/risk-analysis companion to "
    "stats-chi-square's r x c independence test; at any scale "
    "the cost is exactly one scan.",
    tags=("stats",),
)
def stats_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    even = F.col("user_id") % 2 == 0
    purch = F.col("event_type") == "purchase"
    cells = ev.agg(
        F.sum(F.when(even & purch, 1).otherwise(0)).cast("double").alias("a"),
        F.sum(F.when(even & ~purch, 1).otherwise(0)).cast("double").alias("b"),
        F.sum(F.when(~even & purch, 1).otherwise(0)).cast("double").alias("c"),
        F.sum(F.when(~even & ~purch, 1).otherwise(0)).cast("double").alias("d"),
    )
    orr = (F.col("a") * F.col("d")) / (F.col("b") * F.col("c"))
    se = F.sqrt(
        1 / F.col("a") + 1 / F.col("b") + 1 / F.col("c") + 1 / F.col("d")
    )
    z = F.lit(1.959964)
    return cells.select(
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.exp(F.log(orr) - z * se), 6).alias("ci_lo"),
        F.round(F.exp(F.log(orr) + z * se), 6).alias("ci_hi"),
    )


@query(
    "stats-pca-2d",
    oracle="""
        WITH m AS (
            SELECT var_pop(l_quantity) AS vx,
                   var_pop(l_extendedprice) AS vy,
                   covar_pop(l_quantity, l_extendedprice) AS c,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem
        )
        SELECT n AS n_rows,
               round((vx + vy + sqrt(power(vx - vy, 2) + 4 * c * c)) / 2, 6)
                   AS lambda1,
               round((vx + vy - sqrt(power(vx - vy, 2) + 4 * c * c)) / 2, 6)
                   AS lambda2,
               round((vx + vy + sqrt(power(vx - vy, 2) + 4 * c * c))
                     / (2 * (vx + vy)), 6) AS explained_ratio,
               round(degrees(atan2(
                   (vy - vx + sqrt(power(vx - vy, 2) + 4 * c * c)) / 2,
                   c)), 6) AS pc1_angle_deg
        FROM m
    """,
    doc="Closed-form 2-variable PCA of (quantity, price): the 2x2 "
    "covariance eigendecomposition has an exact formula — "
    "lambda = (vx+vy +/- sqrt((vx-vy)^2 + 4c^2))/2, PC1 direction "
    "atan2(lambda1 - vx, c) — so the whole analysis is ONE "
    "streaming-moment aggregation (var/var/cov, map-side "
    "combinable) plus scalar algebra on the summary row: "
    "distributed PCA with zero linear-algebra library, zero "
    "iteration. The k-dim version streams the k x k moment "
    "matrix the same way and solves on the driver "
    "(embed-power-iteration is the large-k iterative sibling). "
    "Explained-variance ratio is the 'is this 2D cloud really "
    "1D' answer.",
    tags=("stats",),
)
def stats_pca_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.var_pop("l_quantity").alias("vx"),
        F.var_pop("l_extendedprice").alias("vy"),
        F.covar_pop("l_quantity", "l_extendedprice").alias("c"),
        F.count("*").cast("long").alias("n"),
    )
    vx, vy, c = F.col("vx"), F.col("vy"), F.col("c")
    disc = F.sqrt(F.pow(vx - vy, 2) + 4 * c * c)
    l1 = (vx + vy + disc) / 2
    l2 = (vx + vy - disc) / 2
    return m.select(
        F.col("n").alias("n_rows"),
        F.round(l1, 6).alias("lambda1"),
        F.round(l2, 6).alias("lambda2"),
        F.round(l1 / (vx + vy), 6).alias("explained_ratio"),
        F.round(F.degrees(F.atan2((vy - vx + disc) / 2, c)), 6).alias(
            "pc1_angle_deg"
        ),
    )


@query(
    "timeseries-ljung-box",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
            FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
        ),
        ctr AS (
            SELECT day, x - avg(x) OVER () AS xc,
                   CAST(count(*) OVER () AS DOUBLE) AS n
            FROM daily
        ),
        lagged AS (
            SELECT n, xc,
                   lag(xc, 1) OVER (ORDER BY day) AS l1,
                   lag(xc, 2) OVER (ORDER BY day) AS l2,
                   lag(xc, 3) OVER (ORDER BY day) AS l3,
                   lag(xc, 4) OVER (ORDER BY day) AS l4,
                   lag(xc, 5) OVER (ORDER BY day) AS l5
            FROM ctr
        ),
        rho AS (
            SELECT max(n) AS n,
                   sum(xc * l1) / sum(xc * xc) AS r1,
                   sum(xc * l2) / sum(xc * xc) AS r2,
                   sum(xc * l3) / sum(xc * xc) AS r3,
                   sum(xc * l4) / sum(xc * xc) AS r4,
                   sum(xc * l5) / sum(xc * xc) AS r5
            FROM lagged
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(r1, 6) AS rho1,
               round(n * (n + 2) * (r1 * r1 / (n - 1) + r2 * r2 / (n - 2)
                     + r3 * r3 / (n - 3) + r4 * r4 / (n - 4)
                     + r5 * r5 / (n - 5)), 6) AS ljung_box_q
        FROM rho
    """,
    doc="Ljung-Box portmanteau test (lags 1-5) for autocorrelation in "
    "the daily volume series: Q = n(n+2) * sum_k rho_k^2/(n-k) ~ "
    "chi2(5) under white noise — the residual-whiteness gate after "
    "any forecast fit (run it on timeseries-stl-naive's residuals "
    "to validate the decomposition). All five lag products come "
    "from one shared window sort of the ~30-row mean-centered "
    "daily summary, then a single moment aggregation; "
    "sum(xc*lag_k)/sum(xc^2) is the standard biased ACF estimator "
    "(denominator over the full series) on both engines. Facts "
    "touched once.",
    tags=("timeseries", "stats"),
)
def timeseries_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("double").alias("x")
    )
    w_all = Window.partitionBy()
    ctr = daily.select(
        "day",
        (F.col("x") - F.avg("x").over(w_all)).alias("xc"),
        F.count("*").over(w_all).cast("double").alias("n"),
    )
    w = Window.orderBy("day")
    lagged = ctr.select(
        "n",
        "xc",
        *[F.lag("xc", k).over(w).alias(f"l{k}") for k in range(1, 6)],
    )
    denom = F.sum(F.col("xc") * F.col("xc"))
    rho = lagged.agg(
        F.max("n").alias("n"),
        *[
            (F.sum(F.col("xc") * F.col(f"l{k}")) / denom).alias(f"r{k}")
            for k in range(1, 6)
        ],
    )
    n = F.col("n")
    q = n * (n + 2) * sum(
        F.col(f"r{k}") * F.col(f"r{k}") / (n - k) for k in range(1, 6)
    )
    return rho.select(
        n.cast("long").alias("n_days"),
        F.round(F.col("r1"), 6).alias("rho1"),
        F.round(q, 6).alias("ljung_box_q"),
    )


@query(
    "stats-roc-auc-binned",
    oracle="""
        WITH s AS (
            SELECT value AS score,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
            FROM events
        ),
        ext AS (SELECT min(score) AS lo, max(score) AS hi FROM s),
        binned AS (
            SELECT least(255, CAST(floor((score - lo) / (hi - lo) * 256.0)
                                   AS INT)) AS bin,
                   CAST(sum(y) AS DOUBLE) AS pos,
                   CAST(sum(1 - y) AS DOUBLE) AS neg
            FROM s, ext GROUP BY 1
        ),
        rates AS (
            SELECT bin,
                   sum(pos) OVER (ORDER BY bin DESC) / sum(pos) OVER ()
                       AS tpr,
                   sum(neg) OVER (ORDER BY bin DESC) / sum(neg) OVER ()
                       AS fpr
            FROM binned
        ),
        curve AS (
            SELECT bin, tpr, fpr,
                   lag(tpr, 1, 0.0) OVER (ORDER BY bin DESC) AS tpr_prev,
                   lag(fpr, 1, 0.0) OVER (ORDER BY bin DESC) AS fpr_prev
            FROM rates
        )
        SELECT CAST(count(*) AS BIGINT) AS n_thresholds,
               round(sum((fpr - fpr_prev) * (tpr + tpr_prev) / 2), 6)
                   AS roc_auc
        FROM curve
    """,
    doc="Binned ROC-AUC for `value` as a purchase classifier score: "
    "descending-threshold sweep over 256 equi-width score bins "
    "(the distributed-safe ROC — exact AUC needs a global rank of "
    "raw scores, i.e. the single-partition sort every rank "
    "statistic here refuses), cumulative TPR/FPR per threshold "
    "via windows over the 256-row bin summary, area by the "
    "trapezoid rule. The binned estimate converges to exact AUC "
    "at bin-width resolution — the same tradeoff "
    "stats-ks-binned makes, and exactly how Spark MLlib's "
    "BinaryClassificationMetrics(numBins) works. One fact hash "
    "agg after a broadcast min/max pre-pass.",
    tags=("stats",),
)
def stats_roc_auc_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    ext = s.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    binned = (
        s.crossJoin(F.broadcast(ext))
        .groupBy(
            F.least(
                F.lit(255),
                F.floor(
                    (F.col("score") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * 256.0
                ).cast("int"),
            ).alias("bin")
        )
        .agg(
            F.sum("y").cast("double").alias("pos"),
            F.sum(1 - F.col("y")).cast("double").alias("neg"),
        )
    )
    w_desc = Window.orderBy(F.col("bin").desc())
    w_all = Window.partitionBy()
    curve = binned.select(
        "bin",
        (F.sum("pos").over(w_desc) / F.sum("pos").over(w_all)).alias("tpr"),
        (F.sum("neg").over(w_desc) / F.sum("neg").over(w_all)).alias("fpr"),
    ).select(
        "bin",
        "tpr",
        "fpr",
        F.lag("tpr", 1, 0.0).over(w_desc).alias("tpr_prev"),
        F.lag("fpr", 1, 0.0).over(w_desc).alias("fpr_prev"),
    )
    return curve.agg(
        F.count("*").cast("long").alias("n_thresholds"),
        F.round(
            F.sum(
                (F.col("fpr") - F.col("fpr_prev"))
                * (F.col("tpr") + F.col("tpr_prev"))
                / 2
            ),
            6,
        ).alias("roc_auc"),
    )


@query(
    "stats-calibration-curve",
    oracle="""
        WITH s AS (
            SELECT value AS score,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
            FROM events
        ),
        ext AS (SELECT min(score) AS lo, max(score) AS hi FROM s),
        scaled AS (
            SELECT (score - lo) / (hi - lo) AS conf, y FROM s, ext
        ),
        bins AS (
            SELECT least(9, CAST(floor(conf * 10) AS INT)) AS bin,
                   avg(conf) AS mean_conf,
                   avg(CAST(y AS DOUBLE)) AS obs_rate,
                   CAST(count(*) AS DOUBLE) AS n
            FROM scaled GROUP BY 1
        )
        , tot AS (SELECT sum(n) AS tn FROM bins)
        SELECT CAST(bin AS BIGINT) AS bin,
               round(mean_conf, 6) AS mean_confidence,
               round(obs_rate, 6) AS observed_rate,
               CAST(n AS BIGINT) AS n,
               round(sum(abs(obs_rate - mean_conf) * n / tn) OVER (), 6)
                   AS ece
        FROM bins, tot ORDER BY bin
    """,
    doc="Reliability diagram + expected calibration error, treating "
    "min-max-scaled `value` as a purchase-probability prediction: "
    "10 confidence bins, each reporting mean predicted confidence "
    "vs observed positive rate, with ECE = sum(|obs - conf| * "
    "n_b/n) repeated on every row via a window over the 10-bin "
    "summary (so the single-number verdict and the curve travel "
    "together). The is-my-model-honest check that AUC cannot "
    "answer — a perfectly-ranked model can still be badly "
    "calibrated. One broadcast min/max pre-pass + one hash agg; "
    "at 100 TB identical, ECE is algebra over 10 rows.",
    tags=("stats",),
)
def stats_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    ext = s.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    scaled = s.crossJoin(F.broadcast(ext)).select(
        (
            (F.col("score") - F.col("lo")) / (F.col("hi") - F.col("lo"))
        ).alias("conf"),
        "y",
    )
    bins = scaled.groupBy(
        F.least(F.lit(9), F.floor(F.col("conf") * 10).cast("int")).alias(
            "bin"
        )
    ).agg(
        F.avg("conf").alias("mean_conf"),
        F.avg(F.col("y").cast("double")).alias("obs_rate"),
        F.count("*").cast("double").alias("n"),
    )
    w_all = Window.partitionBy()
    with_tot = bins.withColumn("tn", F.sum("n").over(w_all))
    return with_tot.select(
        F.col("bin").cast("long").alias("bin"),
        F.round("mean_conf", 6).alias("mean_confidence"),
        F.round("obs_rate", 6).alias("observed_rate"),
        F.col("n").cast("long").alias("n"),
        F.round(
            F.sum(
                F.abs(F.col("obs_rate") - F.col("mean_conf"))
                * F.col("n")
                / F.col("tn")
            ).over(w_all),
            6,
        ).alias("ece"),
    ).orderBy("bin")


@query(
    "stats-eb-shrinkage",
    oracle="""
        WITH rates AS (
            SELECT c.c_nationkey,
                   CAST(sum(CASE WHEN o.o_orderstatus = 'F'
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS conv,
                   CAST(count(*) AS DOUBLE) AS n
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_nationkey
        ),
        mom AS (
            SELECT avg(conv / n) AS mu, var_samp(conv / n) AS v,
                   avg(n) AS nbar
            FROM rates
        ),
        prior AS (
            SELECT mu,
                   mu * (mu * (1 - mu) / v - 1) AS alpha,
                   (1 - mu) * (mu * (1 - mu) / v - 1) AS beta
            FROM mom
        )
        SELECT r.c_nationkey,
               CAST(r.n AS BIGINT) AS n_orders,
               round(r.conv / r.n, 6) AS raw_rate,
               round((r.conv + p.alpha) / (r.n + p.alpha + p.beta), 6)
                   AS shrunk_rate,
               round(p.mu, 6) AS prior_mean
        FROM rates r, prior p
        ORDER BY r.c_nationkey
    """,
    doc="Empirical-Bayes beta-binomial shrinkage of per-nation "
    "order-completion rates: method-of-moments fits the Beta prior "
    "from the BETWEEN-nation rate distribution (alpha+beta = "
    "mu(1-mu)/var - 1), then every nation's raw rate shrinks "
    "toward the prior mean by exactly as much as its sample size "
    "fails to earn — small nations move a lot, big ones barely. "
    "The fix for 'tiny segment tops the leaderboard' in every "
    "rate ranking. One fact join+agg to the 25-nation summary, "
    "one moment aggregation, one broadcast prior join: the "
    "borrowing-strength pattern at any scale.",
    tags=("stats",),
)
def stats_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rates = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("double")
            .alias("conv"),
            F.count("*").cast("double").alias("n"),
        )
    )
    r = F.col("conv") / F.col("n")
    mom = rates.agg(
        F.avg(r).alias("mu"), F.var_samp(r).alias("v")
    )
    strength = F.col("mu") * (1 - F.col("mu")) / F.col("v") - 1
    prior = mom.select(
        "mu",
        (F.col("mu") * strength).alias("alpha"),
        ((1 - F.col("mu")) * strength).alias("beta"),
    )
    return (
        rates.crossJoin(F.broadcast(prior))
        .select(
            "c_nationkey",
            F.col("n").cast("long").alias("n_orders"),
            F.round(r, 6).alias("raw_rate"),
            F.round(
                (F.col("conv") + F.col("alpha"))
                / (F.col("n") + F.col("alpha") + F.col("beta")),
                6,
            ).alias("shrunk_rate"),
            F.round("mu", 6).alias("prior_mean"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "stats-durbin-watson",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, avg(value) AS y
            FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
        ),
        idx AS (
            SELECT y, CAST(row_number() OVER (ORDER BY day) AS DOUBLE)
                       AS t, day
            FROM daily
        ),
        fit AS (
            SELECT (sum(t * y) - sum(t) * sum(y) / count(*))
                   / (sum(t * t) - sum(t) * sum(t) / count(*)) AS b,
                   avg(y) AS my, avg(t) AS mt
            FROM idx
        ),
        resid AS (
            SELECT i.day, i.y - (f.my + f.b * (i.t - f.mt)) AS r
            FROM idx i, fit f
        ),
        seq AS (
            SELECT r, lag(r) OVER (ORDER BY day) AS rp FROM resid
        )
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               round(sum(CASE WHEN rp IS NOT NULL
                              THEN power(r - rp, 2) ELSE 0 END)
                     / sum(r * r), 6) AS durbin_watson
        FROM seq
    """,
    doc="Durbin-Watson test for serial correlation in the residuals "
    "of a linear trend fit to daily mean value: DW = "
    "sum((r_t - r_(t-1))^2) / sum(r_t^2), ~2 when residuals are "
    "independent, ->0 under positive autocorrelation (meaning "
    "the trend-line's standard errors are lies — THE check "
    "before trusting any regression on a time series). The OLS "
    "slope comes from the closed-form moment aggregation "
    "(timeseries-granger-1lag's pattern, k=1), residuals from a "
    "broadcast of the 1-row fit, DW from one lag window over "
    "the ~30-row summary. Facts aggregated exactly once.",
    tags=("stats", "timeseries"),
)
def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("y")
    )
    idx = daily.select(
        "day",
        "y",
        F.row_number().over(Window.orderBy("day")).cast("double").alias("t"),
    )
    n = F.count("*")
    b = (F.sum(F.col("t") * F.col("y")) - F.sum("t") * F.sum("y") / n) / (
        F.sum(F.col("t") * F.col("t")) - F.sum("t") * F.sum("t") / n
    )
    fit = idx.agg(
        b.alias("b"), F.avg("y").alias("my"), F.avg("t").alias("mt")
    )
    resid = idx.crossJoin(F.broadcast(fit)).select(
        "day",
        (
            F.col("y")
            - (F.col("my") + F.col("b") * (F.col("t") - F.col("mt")))
        ).alias("r"),
    )
    seq = resid.select(
        "r", F.lag("r").over(Window.orderBy("day")).alias("rp")
    )
    return seq.agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(
            F.sum(
                F.when(
                    F.col("rp").isNotNull(),
                    F.pow(F.col("r") - F.col("rp"), 2),
                ).otherwise(0.0)
            )
            / F.sum(F.col("r") * F.col("r")),
            6,
        ).alias("durbin_watson"),
    )


@query(
    "stats-partial-corr",
    oracle="""
        WITH m AS (
            SELECT corr(l_quantity, l_extendedprice) AS rxy,
                   corr(l_quantity, l_discount) AS rxz,
                   corr(l_extendedprice, l_discount) AS ryz,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem
        )
        SELECT n AS n_rows,
               round(rxy, 6) AS corr_qty_price,
               round((rxy - rxz * ryz)
                     / (sqrt(1 - rxz * rxz) * sqrt(1 - ryz * ryz)), 6)
                   AS partial_corr_given_discount
        FROM m
    """,
    doc="First-order partial correlation of quantity and price "
    "CONTROLLING for discount: r_xy.z = (r_xy - r_xz*r_yz) / "
    "sqrt((1-r_xz^2)(1-r_yz^2)) — does the quantity-price "
    "relationship survive once the shared driver is removed, the "
    "one-line confounder check that separates 'correlated' from "
    "'correlated only through z'. All three pairwise "
    "correlations accumulate side by side in ONE streaming-"
    "moment scan (the agg-corr-matrix fused-scan shape), and "
    "the partial is scalar algebra on the summary row. The "
    "k-confounder generalization inverts the k x k correlation "
    "matrix driver-side from the same one-pass moments.",
    tags=("stats",),
)
def stats_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("rxy"),
        F.corr("l_quantity", "l_discount").alias("rxz"),
        F.corr("l_extendedprice", "l_discount").alias("ryz"),
        F.count("*").cast("long").alias("n"),
    )
    rxy, rxz, ryz = F.col("rxy"), F.col("rxz"), F.col("ryz")
    return m.select(
        F.col("n").alias("n_rows"),
        F.round(rxy, 6).alias("corr_qty_price"),
        F.round(
            (rxy - rxz * ryz)
            / (F.sqrt(1 - rxz * rxz) * F.sqrt(1 - ryz * ryz)),
            6,
        ).alias("partial_corr_given_discount"),
    )


@query(
    "stats-breusch-pagan",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, avg(value) AS y
            FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
        ),
        idx AS (
            SELECT y, CAST(row_number() OVER (ORDER BY day) AS DOUBLE) AS t
            FROM daily
        ),
        fit AS (
            SELECT (sum(t * y) - sum(t) * sum(y) / count(*))
                   / (sum(t * t) - sum(t) * sum(t) / count(*)) AS b,
                   avg(y) AS my, avg(t) AS mt
            FROM idx
        ),
        r2aux AS (
            SELECT count(*) AS n,
                   power(corr(power(i.y - (f.my + f.b * (i.t - f.mt)), 2),
                              i.t), 2) AS r2
            FROM idx i, fit f
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(r2, 6) AS aux_r2,
               round(n * r2, 6) AS breusch_pagan_lm
        FROM r2aux
    """,
    doc="Breusch-Pagan heteroskedasticity test on the daily-mean "
    "trend fit: regress SQUARED residuals on time — for one "
    "regressor the auxiliary R^2 is just corr(e^2, t)^2 — and "
    "LM = n*R^2 ~ chi2(1) under constant variance. Fanning "
    "residuals mean the trend's confidence bands are wrong in "
    "opposite directions at the two ends, the partner pathology "
    "to the serial correlation stats-durbin-watson catches on "
    "the same fit. Same closed-form-OLS + broadcast-fit "
    "pipeline; the extra test costs one more moment "
    "aggregation over the ~30-row summary.",
    tags=("stats", "timeseries"),
)
def stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("y")
    )
    idx = daily.select(
        "y",
        F.row_number().over(Window.orderBy("day")).cast("double").alias("t"),
    )
    n = F.count("*")
    b = (F.sum(F.col("t") * F.col("y")) - F.sum("t") * F.sum("y") / n) / (
        F.sum(F.col("t") * F.col("t")) - F.sum("t") * F.sum("t") / n
    )
    fit = idx.agg(
        b.alias("b"), F.avg("y").alias("my"), F.avg("t").alias("mt")
    )
    joined = idx.crossJoin(F.broadcast(fit))
    e2 = F.pow(
        F.col("y") - (F.col("my") + F.col("b") * (F.col("t") - F.col("mt"))),
        2,
    )
    r2aux = joined.agg(
        F.count("*").alias("n"),
        F.pow(F.corr(e2, F.col("t")), 2).alias("r2"),
    )
    return r2aux.select(
        F.col("n").cast("long").alias("n_days"),
        F.round("r2", 6).alias("aux_r2"),
        F.round(F.col("n") * F.col("r2"), 6).alias("breusch_pagan_lm"),
    )


@query(
    "timeseries-turning-points",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        ctx AS (
            SELECT x, lag(x) OVER (ORDER BY day) AS p,
                   lead(x) OVER (ORDER BY day) AS nx,
                   CAST(count(*) OVER () AS DOUBLE) AS n
            FROM daily
        ),
        s AS (
            SELECT max(n) AS n,
                   CAST(sum(CASE WHEN (x > p AND x > nx)
                                   OR (x < p AND x < nx)
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS tp
            FROM ctx WHERE p IS NOT NULL AND nx IS NOT NULL
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               CAST(tp AS BIGINT) AS turning_points,
               round(2 * (n - 2) / 3, 6) AS expected_tp,
               round((tp - 2 * (n - 2) / 3)
                     / sqrt((16 * n - 29) / 90), 6) AS z
        FROM s
    """,
    doc="Turning-points test for serial independence: count strict "
    "local extrema in the daily series and z-score against the "
    "i.i.d. expectation E[T] = 2(n-2)/3, Var = (16n-29)/90 — too "
    "FEW turning points means trending, too MANY means "
    "oscillation/overdifferencing. The third member of the "
    "randomness triad with stats-runs-test (signs of changes) "
    "and timeseries-variance-ratio (magnitude scaling): all "
    "three window the same ~30-row daily summary after one fact "
    "hash agg, and together they triangulate WHY a series fails "
    "randomness, not just that it does. Interior days only via "
    "lag+lead null guards.",
    tags=("timeseries", "stats"),
)
def timeseries_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("double").alias("x")
    )
    w = Window.orderBy("day")
    w_all = Window.partitionBy()
    ctx = daily.select(
        "x",
        F.lag("x").over(w).alias("p"),
        F.lead("x").over(w).alias("nx"),
        F.count("*").over(w_all).cast("double").alias("n"),
    ).filter(F.col("p").isNotNull() & F.col("nx").isNotNull())
    is_tp = (
        ((F.col("x") > F.col("p")) & (F.col("x") > F.col("nx")))
        | ((F.col("x") < F.col("p")) & (F.col("x") < F.col("nx")))
    )
    s = ctx.agg(
        F.max("n").alias("n"),
        F.sum(F.when(is_tp, 1).otherwise(0)).cast("double").alias("tp"),
    )
    n, tp = F.col("n"), F.col("tp")
    et = 2 * (n - 2) / 3
    return s.select(
        n.cast("long").alias("n_days"),
        tp.cast("long").alias("turning_points"),
        F.round(et, 6).alias("expected_tp"),
        F.round((tp - et) / F.sqrt((16 * n - 29) / 90), 6).alias("z"),
    )


@query(
    "stats-youden-threshold",
    oracle="""
        WITH s AS (
            SELECT value AS score,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
            FROM events
        ),
        ext AS (SELECT min(score) AS lo, max(score) AS hi FROM s),
        binned AS (
            SELECT least(255, CAST(floor((score - lo) / (hi - lo) * 256.0)
                                   AS INT)) AS bin,
                   CAST(sum(y) AS DOUBLE) AS pos,
                   CAST(sum(1 - y) AS DOUBLE) AS neg,
                   max(lo) AS lo, max(hi) AS hi
            FROM s, ext GROUP BY 1
        ),
        curve AS (
            SELECT bin, lo, hi,
                   sum(pos) OVER (ORDER BY bin DESC) / sum(pos) OVER ()
                       AS tpr,
                   sum(neg) OVER (ORDER BY bin DESC) / sum(neg) OVER ()
                       AS fpr
            FROM binned
        )
        SELECT round(lo + bin * (hi - lo) / 256.0, 6) AS threshold,
               round(tpr, 6) AS tpr,
               round(fpr, 6) AS fpr,
               round(tpr - fpr, 6) AS youden_j
        FROM curve
        ORDER BY youden_j DESC, bin
        LIMIT 1
    """,
    doc="Optimal classification threshold by Youden's J = TPR - FPR, "
    "maximized over the same 256-bin descending-threshold sweep as "
    "stats-roc-auc-binned (shared machinery, different question: "
    "AUC scores the ranking, J picks the OPERATING POINT — the "
    "threshold a deployed alert/filter actually needs). J's "
    "maximum is also the KS statistic of score separation, "
    "closing the loop with stats-ks-binned. Argmax via "
    "deterministic (J desc, bin) ordering + LIMIT 1 over the "
    "256-row summary; one fact hash agg after the broadcast "
    "min/max pre-pass.",
    tags=("stats",),
)
def stats_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    ext = s.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    binned = (
        s.crossJoin(F.broadcast(ext))
        .groupBy(
            F.least(
                F.lit(255),
                F.floor(
                    (F.col("score") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * 256.0
                ).cast("int"),
            ).alias("bin")
        )
        .agg(
            F.sum("y").cast("double").alias("pos"),
            F.sum(1 - F.col("y")).cast("double").alias("neg"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
    )
    w_desc = Window.orderBy(F.col("bin").desc())
    w_all = Window.partitionBy()
    curve = binned.select(
        "bin",
        "lo",
        "hi",
        (F.sum("pos").over(w_desc) / F.sum("pos").over(w_all)).alias("tpr"),
        (F.sum("neg").over(w_desc) / F.sum("neg").over(w_all)).alias("fpr"),
    )
    return (
        curve.select(
            F.round(
                F.col("lo") + F.col("bin") * (F.col("hi") - F.col("lo")) / 256.0,
                6,
            ).alias("threshold"),
            F.round("tpr", 6).alias("tpr"),
            F.round("fpr", 6).alias("fpr"),
            F.round(F.col("tpr") - F.col("fpr"), 6).alias("youden_j"),
            F.col("bin"),
        )
        .orderBy(F.col("youden_j").desc(), "bin")
        .limit(1)
        .drop("bin")
    )


@query(
    "stats-bic-trend-select",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, avg(value) AS y
            FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
        ),
        idx AS (
            SELECT y, CAST(row_number() OVER (ORDER BY day) AS DOUBLE) AS t
            FROM daily
        ),
        ctr AS (
            SELECT y - avg(y) OVER () AS yc,
                   t - avg(t) OVER () AS t1,
                   t * t - avg(t * t) OVER () AS t2
            FROM idx
        ),
        s AS (
            SELECT count(*) AS n,
                   sum(yc * yc) AS syy,
                   sum(t1 * t1) AS s11, sum(t2 * t2) AS s22,
                   sum(t1 * t2) AS s12,
                   sum(t1 * yc) AS s1y, sum(t2 * yc) AS s2y
            FROM ctr
        ),
        rss AS (
            SELECT n, syy AS rss0,
                   syy - s1y * s1y / s11 AS rss1,
                   syy - ((s22 * s1y - s12 * s2y) * s1y
                          + (s11 * s2y - s12 * s1y) * s2y)
                         / (s11 * s22 - s12 * s12) AS rss2
            FROM s
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(n * ln(rss0 / n) + 1 * ln(n), 6) AS bic_constant,
               round(n * ln(rss1 / n) + 2 * ln(n), 6) AS bic_linear,
               round(n * ln(rss2 / n) + 3 * ln(n), 6) AS bic_quadratic,
               CASE
                   WHEN n * ln(rss0 / n) + 1 * ln(n)
                        <= least(n * ln(rss1 / n) + 2 * ln(n),
                                 n * ln(rss2 / n) + 3 * ln(n))
                       THEN 'constant'
                   WHEN n * ln(rss1 / n) + 2 * ln(n)
                        <= n * ln(rss2 / n) + 3 * ln(n)
                       THEN 'linear'
                   ELSE 'quadratic' END AS best_model
        FROM rss
    """,
    doc="BIC model selection for the daily trend: constant vs linear "
    "vs quadratic fits, each RSS in CLOSED FORM from one moment "
    "aggregation (the quadratic uses the same centered 2x2 "
    "normal-equation solve as timeseries-granger-1lag with "
    "regressors t and t^2), then BIC = n*ln(RSS/n) + k*ln(n) "
    "picks the model — the principled is-there-even-a-trend "
    "gate to run before quoting timeseries-slope-change or any "
    "forecast. All three models share ONE fact hash agg and ONE "
    "summary moment pass; adding models costs columns, not "
    "scans. Ties break toward fewer parameters (the <= "
    "ordering), as parsimony demands.",
    tags=("stats", "timeseries"),
)
def stats_bic_trend_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("y")
    )
    idx = daily.select(
        "y",
        F.row_number().over(Window.orderBy("day")).cast("double").alias("t"),
    )
    w_all = Window.partitionBy()
    ctr = idx.select(
        (F.col("y") - F.avg("y").over(w_all)).alias("yc"),
        (F.col("t") - F.avg("t").over(w_all)).alias("t1"),
        (
            F.col("t") * F.col("t")
            - F.avg(F.col("t") * F.col("t")).over(w_all)
        ).alias("t2"),
    )
    s = ctr.agg(
        F.count("*").alias("n"),
        F.sum(F.col("yc") * F.col("yc")).alias("syy"),
        F.sum(F.col("t1") * F.col("t1")).alias("s11"),
        F.sum(F.col("t2") * F.col("t2")).alias("s22"),
        F.sum(F.col("t1") * F.col("t2")).alias("s12"),
        F.sum(F.col("t1") * F.col("yc")).alias("s1y"),
        F.sum(F.col("t2") * F.col("yc")).alias("s2y"),
    )
    n = F.col("n")
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    rss0 = F.col("syy")
    rss1 = F.col("syy") - F.col("s1y") * F.col("s1y") / F.col("s11")
    rss2 = F.col("syy") - (
        (F.col("s22") * F.col("s1y") - F.col("s12") * F.col("s2y"))
        * F.col("s1y")
        + (F.col("s11") * F.col("s2y") - F.col("s12") * F.col("s1y"))
        * F.col("s2y")
    ) / det
    bic0 = n * F.log(rss0 / n) + 1 * F.log(n)
    bic1 = n * F.log(rss1 / n) + 2 * F.log(n)
    bic2 = n * F.log(rss2 / n) + 3 * F.log(n)
    return s.select(
        n.cast("long").alias("n_days"),
        F.round(bic0, 6).alias("bic_constant"),
        F.round(bic1, 6).alias("bic_linear"),
        F.round(bic2, 6).alias("bic_quadratic"),
        F.when(bic0 <= F.least(bic1, bic2), "constant")
        .when(bic1 <= bic2, "linear")
        .otherwise("quadratic")
        .alias("best_model"),
    )


@query(
    "stats-xbar-control-chart",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, avg(value) AS xbar,
                   var_samp(value) AS s2, count(*) AS n
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        pooled AS (
            SELECT sum(xbar * n) / sum(n) AS gm,
                   sqrt(sum((n - 1) * s2) / sum(n - 1)) AS sw
            FROM daily
        )
        SELECT day, round(xbar, 6) AS xbar,
               round(gm - 3 * sw / sqrt(n), 6) AS lcl,
               round(gm + 3 * sw / sqrt(n), 6) AS ucl,
               (xbar < gm - 3 * sw / sqrt(n)
                OR xbar > gm + 3 * sw / sqrt(n)) AS out_of_control
        FROM daily, pooled
        ORDER BY day
    """,
    doc="X-bar control chart (Shewhart SPC): each day's mean value "
    "against 3-sigma control limits derived from the POOLED "
    "WITHIN-day standard deviation — the SPC insight that "
    "between-day z-scores (anomaly-zscore) get backwards: "
    "limits must come from common-cause (within-subgroup) "
    "variation, so a day can be flagged even when between-day "
    "variance is huge, and vice versa. Variable subgroup sizes "
    "handled exactly via sw/sqrt(n_day) per-day limits rather "
    "than tabulated A-constants. One fact hash agg (mean, var, "
    "n per day), one pooled reduce broadcast back over the "
    "~30-row summary.",
    tags=("stats", "timeseries"),
)
def stats_xbar_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("xbar"),
        F.var_samp("value").alias("s2"),
        F.count("*").alias("n"),
    )
    pooled = daily.agg(
        (F.sum(F.col("xbar") * F.col("n")) / F.sum("n")).alias("gm"),
        F.sqrt(
            F.sum((F.col("n") - 1) * F.col("s2")) / F.sum(F.col("n") - 1)
        ).alias("sw"),
    )
    j = daily.crossJoin(F.broadcast(pooled))
    lcl = F.col("gm") - 3 * F.col("sw") / F.sqrt(F.col("n"))
    ucl = F.col("gm") + 3 * F.col("sw") / F.sqrt(F.col("n"))
    return j.select(
        "day",
        F.round("xbar", 6).alias("xbar"),
        F.round(lcl, 6).alias("lcl"),
        F.round(ucl, 6).alias("ucl"),
        ((F.col("xbar") < lcl) | (F.col("xbar") > ucl)).alias(
            "out_of_control"
        ),
    ).orderBy("day")


@query(
    "stats-uniformity-hours",
    oracle="""
        WITH hours AS (
            SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hr,
                   CAST(count(*) AS DOUBLE) AS c
            FROM events GROUP BY 1
        ),
        tot AS (SELECT sum(c) AS n, count(*) AS k FROM hours)
        SELECT CAST(max(n) AS BIGINT) AS n_events,
               CAST(max(k) AS BIGINT) AS n_hours_present,
               round(sum(power(c - n / 24, 2) / (n / 24)), 6)
                   AS chi2_uniform,
               round(max(c) / min(c), 6) AS peak_to_trough
        FROM hours, tot
    """,
    doc="Hour-of-day uniformity chi-square: are events uniformly "
    "spread over the 24 clock hours (expected n/24 each) or is "
    "there diurnal structure? Large chi2 vs chi2(23) plus the "
    "peak-to-trough ratio quantify how much hourly capacity "
    "planning matters; near-uniform says the synthetic load has "
    "no diurnal cycle worth modeling (and on real traffic this "
    "statistic is the first feature of load forecasting). ONE "
    "hash agg to <=24 cells — expected counts derive from the "
    "cell sums themselves, no second scan. Timezone note: "
    "hour() reads session-local time in both engines over the "
    "same NTZ-normalized timestamps, so parity pins the "
    "timezone handling too.",
    tags=("stats", "timeseries"),
)
def stats_uniformity_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hours = ev.groupBy(
        F.hour("ts").cast("long").alias("hr")
    ).agg(F.count("*").cast("double").alias("c"))
    w_all = Window.partitionBy()
    j = hours.withColumn("n", F.sum("c").over(w_all)).withColumn(
        "k", F.count("*").over(w_all)
    )
    exp = F.col("n") / 24
    return j.agg(
        F.max("n").cast("long").alias("n_events"),
        F.max("k").cast("long").alias("n_hours_present"),
        F.round(F.sum(F.pow(F.col("c") - exp, 2) / exp), 6).alias(
            "chi2_uniform"
        ),
        F.round(F.max("c") / F.min("c"), 6).alias("peak_to_trough"),
    )


@query(
    "stats-process-capability",
    oracle="""
        WITH m AS (
            SELECT avg(value) AS mu, stddev_samp(value) AS sd,
                   CAST(count(*) AS BIGINT) AS n
            FROM events
        ),
        spec AS (SELECT 0.0 AS lsl, 200.0 AS usl)
        SELECT n AS n_rows,
               round((usl - lsl) / (6 * sd), 6) AS cp,
               round(least(usl - mu, mu - lsl) / (3 * sd), 6) AS cpk,
               round((mu - (usl + lsl) / 2) / ((usl - lsl) / 2), 6)
                   AS centering_k
        FROM m, spec
    """,
    doc="Process capability indices against spec limits [0, 200]: "
    "Cp = tolerance/(6 sigma) is what the process COULD hit if "
    "centered, Cpk = min-side margin/(3 sigma) what it actually "
    "does, and k the centering error — Cpk >= 1.33 is the "
    "classic four-sigma capability bar. The acceptance "
    "companion to stats-xbar-control-chart: the chart asks 'is "
    "the process stable', capability asks 'is stable good "
    "enough for the spec'. One moment aggregation joined to a "
    "literal spec row; swap the spec for a config table in "
    "production, same broadcast shape.",
    tags=("stats",),
)
def stats_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = ev.agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
        F.count("*").cast("long").alias("n"),
    )
    lsl, usl = 0.0, 200.0
    mu, sd = F.col("mu"), F.col("sd")
    return m.select(
        F.col("n").alias("n_rows"),
        F.round((usl - lsl) / (6 * sd), 6).alias("cp"),
        F.round(F.least(usl - mu, mu - lsl) / (3 * sd), 6).alias("cpk"),
        F.round((mu - (usl + lsl) / 2) / ((usl - lsl) / 2), 6).alias(
            "centering_k"
        ),
    )


@query(
    "stats-cramers-v",
    oracle="""
        WITH cells AS (
            SELECT o_orderstatus AS s, o_orderpriority AS p,
                   CAST(count(*) AS DOUBLE) AS obs
            FROM orders
            WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
            GROUP BY o_orderstatus, o_orderpriority
        ),
        -- densify: empty cells contribute E to chi2 (sparse-grid class)
        grid AS (
            SELECT a.s, b.p, coalesce(c.obs, 0) AS obs
            FROM (SELECT DISTINCT s FROM cells) a
            CROSS JOIN (SELECT DISTINCT p FROM cells) b
            LEFT JOIN cells c ON c.s = a.s AND c.p = b.p
        ),
        marg AS (
            SELECT s, p, obs,
                   sum(obs) OVER (PARTITION BY s) AS row_tot,
                   sum(obs) OVER (PARTITION BY p) AS col_tot,
                   sum(obs) OVER () AS n
            FROM grid
        ),
        stat AS (
            SELECT max(n) AS n,
                   count(DISTINCT s) AS r,
                   count(DISTINCT p) AS c,
                   sum(power(obs - row_tot * col_tot / n, 2)
                       / (row_tot * col_tot / n)) AS chi2
            FROM marg
        )
        SELECT CAST(n AS BIGINT) AS n_rows,
               round(chi2, 6) AS chi2,
               round(sqrt(chi2 / (n * least(r - 1, c - 1))), 6) AS cramers_v,
               round(sqrt(
                   greatest(0.0, chi2 / n - (r - 1.0) * (c - 1.0) / (n - 1))
                   / least(r - (r - 1.0) * (r - 1.0) / (n - 1) - 1,
                           c - (c - 1.0) * (c - 1.0) / (n - 1) - 1) ), 6)
                   AS cramers_v_corrected
        FROM stat
    """,
    doc="Bias-corrected Cramer's V effect size for the orderstatus x "
    "orderpriority association (the effect-size companion to "
    "stats-chi-square, which only tests significance): chi2 from the "
    "15-cell contingency table (one hash aggregation over orders; "
    "margins via windows over the 15-row summary), V = "
    "sqrt(chi2/(N*min(r-1,c-1))), and the Bergsma bias correction "
    "V+ = sqrt(phi2+ / min(r~-1, c~-1)) with phi2+ = max(0, phi2 - "
    "(r-1)(c-1)/(N-1)) and r~ = r - (r-1)^2/(N-1) (note the -1 in "
    "the denominator per Bergsma 2013 — fixed in r5; both sides "
    "previously divided by min(r~, c~)). "
    "Effect sizes, unlike p-values, stay interpretable at 100 TB row "
    "counts where every test is 'significant'.",
    tags=("stats",),
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL categories are excluded from the contingency table (classic
    # practice; also NULL join keys break the densify grid differently
    # per engine)
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isNotNull() & F.col("o_orderpriority").isNotNull()
    )
    # persist the BOUNDED contingency cells (<= #statuses x #priorities
    # rows at any scale): both densify-universe projections and the
    # grid join re-consumed them (3 orders scans -> 1)
    cells = od.groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count("*").cast("double").alias("obs")).coalesce(1).persist()
    # densify: empty cells contribute E to chi2 (see oracle note)
    grid = (
        cells.select("s").distinct()
        .crossJoin(F.broadcast(cells.select("p").distinct()))
        .join(cells, ["s", "p"], "left")
        .select("s", "p", F.coalesce("obs", F.lit(0.0)).alias("obs"))
    )
    marg = grid.select(
        "s",
        "p",
        "obs",
        F.sum("obs").over(Window.partitionBy("s")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("p")).alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n")
    stat = marg.agg(
        F.max("n").alias("n"),
        F.count_distinct("s").cast("double").alias("r"),
        F.count_distinct("p").cast("double").alias("c"),
        F.sum(F.pow(F.col("obs") - exp, 2) / exp).alias("chi2"),
    )
    n, r, c = F.col("n"), F.col("r"), F.col("c")
    phi2_plus = F.greatest(
        F.lit(0.0), F.col("chi2") / n - (r - 1) * (c - 1) / (n - 1)
    )
    return stat.select(
        n.cast("long").alias("n_rows"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / (n * F.least(r - 1, c - 1))), 6
        ).alias("cramers_v"),
        F.round(
            F.sqrt(
                phi2_plus
                / F.least(
                    r - (r - 1) * (r - 1) / (n - 1) - 1,
                    c - (c - 1) * (c - 1) / (n - 1) - 1,
                )
            ),
            6,
        ).alias("cramers_v_corrected"),
    )


@query(
    "stats-cohens-d-battery",
    oracle="""
        WITH g AS (
            SELECT event_type, count(*) AS n, avg(value) AS m,
                   var_samp(value) AS v
            FROM events GROUP BY event_type
        )
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
               round((a.m - b.m)
                     / sqrt(((a.n - 1) * a.v + (b.n - 1) * b.v)
                            / (a.n + b.n - 2)), 6) AS cohens_d,
               round((a.m - b.m)
                     / sqrt(((a.n - 1) * a.v + (b.n - 1) * b.v)
                            / (a.n + b.n - 2))
                     * (1 - 3.0 / (4 * (a.n + b.n) - 9)), 6) AS hedges_g
        FROM g a JOIN g b ON a.event_type < b.event_type
    """,
    doc="Pairwise standardized effect sizes between all event-type "
    "pairs: Cohen's d with pooled sd and the Hedges small-sample "
    "bias correction g = d*(1 - 3/(4n-9)). One hash aggregation to "
    "k per-group (n, mean, var) rows, then a k x k self-join on the "
    "TINY summary (10 pairs from 5 types) — the multiple-comparison "
    "companion to stats-welch-ttest (significance) and the input "
    "stats-holm-bonferroni's step-down expects. Effect sizes stay "
    "meaningful at 100 TB where p-values saturate.",
    tags=("stats",),
)
def stats_cohens_d_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.avg("value").alias("m"), F.var_samp("value").alias("v")
    )
    a = g.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("m").alias("ma"),
        F.col("v").alias("va"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("m").alias("mb"),
        F.col("v").alias("vb"),
    )
    j = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    na, nb = F.col("na"), F.col("nb")
    d = (F.col("ma") - F.col("mb")) / F.sqrt(
        ((na - 1) * F.col("va") + (nb - 1) * F.col("vb")) / (na + nb - 2)
    )
    return j.select(
        "type_a",
        "type_b",
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * (1 - 3.0 / (4 * (na + nb) - 9)), 6).alias("hedges_g"),
    )


@query(
    "sample-fixed-k-per-group",
    oracle=f"""
        WITH hashed AS (
            SELECT event_type, event_id,
                   {sql_string_hash("CAST(event_id AS VARCHAR) || ':fixk'")}
                       AS h
            FROM events
        ),
        ranked AS (
            SELECT event_type, event_id, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h, event_id) AS rn
            FROM hashed
        )
        SELECT event_type, CAST(event_id AS BIGINT) AS event_id,
               CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 50
    """,
    doc="Fixed-size k=50 sample PER GROUP via hash-order ranking: the "
    "k rows with the smallest salted key hash per event type are a "
    "uniform random sample of the group, yet fully DETERMINISTIC "
    "across reruns, engines, and partitionings — the distributed "
    "equivalent of per-group reservoir sampling without reservoir "
    "state (the k-minimum-values idea applied to sampling; "
    "agg-kmv-sketch uses the same order statistic for F0). "
    "Complements sample-stratified (fraction-based, group sizes "
    "vary) when downstream needs EQUAL-size per-stratum samples "
    "(eval panels, human review batches). One hash projection + "
    "one rank window per group; at scale the window's sort is "
    "bounded per group by pushing a partial top-k before the "
    "shuffle (TakeOrderedAndProject per partition).",
    tags=("sample",),
)
def sample_fixed_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from transit_scrape_spark.operators.dedup import string_hash

    ev = load_table(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        "event_id",
        string_hash(
            F.concat(F.col("event_id").cast("string"), F.lit(":fixk"))
        ).alias("h"),
    )
    w = Window.partitionBy("event_type").orderBy("h", "event_id")
    return (
        hashed.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 50)
        .select("event_type", F.col("event_id").cast("long").alias("event_id"), "rn")
    )


@query(
    "stats-jackknife-cv",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   sum(o_totalprice) AS x
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        tot AS (
            SELECT count(*) AS n, sum(x) AS s, sum(x * x) AS ss
            FROM daily
        ),
        loo AS (
            SELECT tot.n,
                   (tot.s - d.x) / (tot.n - 1) AS mu_i,
                   ((tot.ss - d.x * d.x)
                    - (tot.n - 1) * power((tot.s - d.x) / (tot.n - 1), 2))
                       / (tot.n - 2) AS var_i
            FROM daily d, tot
        ),
        cvs AS (
            SELECT n, sqrt(var_i) / mu_i AS cv_i FROM loo
        ),
        full_cv AS (
            SELECT sqrt((ss - n * power(s / n, 2)) / (n - 1)) / (s / n) AS cv
            FROM tot
        )
        SELECT CAST(max(cvs.n) AS BIGINT) AS n_days,
               round(max(full_cv.cv), 6) AS cv_full,
               round(avg(cv_i), 6) AS cv_jack_mean,
               round(sqrt((max(cvs.n) - 1.0) / max(cvs.n)
                          * sum(power(cv_i - (SELECT avg(cv_i) FROM cvs), 2))),
                     6) AS se_jackknife,
               round(max(cvs.n) * max(full_cv.cv)
                     - (max(cvs.n) - 1) * avg(cv_i), 6) AS cv_bias_corrected
        FROM cvs, full_cv
        GROUP BY ALL
    """,
    doc="Delete-1 jackknife inference for the coefficient of "
    "variation of daily revenue — a NONLINEAR statistic with no "
    "closed-form SE: every leave-one-out CV comes from the global "
    "(n, sum, sum-of-squares) totals minus the held-out day "
    "(loo_var via the sums identity), so the n resamples cost ONE "
    "broadcast join over the day summary, not n passes — the "
    "algebraic trick that makes jackknifes free at any scale when "
    "the statistic is a smooth function of moments. Reports the "
    "jackknife SE and the bias-corrected estimate n*cv - "
    "(n-1)*mean(loo cv). The deterministic cousin of "
    "sample-poisson-bootstrap (which needs pseudo-randomness).",
    tags=("stats",),
)
def stats_jackknife_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    # persist the CALENDAR-BOUNDED daily rollup (<= ~3650 rows at any
    # scale) as ONE cached partition: the moment total and the
    # leave-one-out expansion both re-consume it (5 orders scans
    # unpersisted). r11 tried daily+cvs at the static 32-partition
    # cache width and reverted (+72%); one bounded-summary partition
    # removes the width drag, and cvs (one cheap projection over the
    # cache) no longer needs its own persist.
    daily = (
        od.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("x"))
        .coalesce(1)
        .persist()
    )
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    loo = daily.join(F.broadcast(tot)).select(
        "n",
        ((s - F.col("x")) / (n - 1)).alias("mu_i"),
        (
            (
                (ss - F.col("x") * F.col("x"))
                - (n - 1) * F.pow((s - F.col("x")) / (n - 1), 2)
            )
            / (n - 2)
        ).alias("var_i"),
    )
    cvs = loo.select(
        "n", (F.sqrt("var_i") / F.col("mu_i")).alias("cv_i")
    )
    full_cv = tot.select(
        (F.sqrt((ss - n * F.pow(s / n, 2)) / (n - 1)) / (s / n)).alias("cv")
    )
    cbar = cvs.agg(F.avg("cv_i").alias("cbar"))
    j = cvs.join(F.broadcast(full_cv)).join(F.broadcast(cbar))
    return j.agg(
        F.max("n").cast("long").alias("n_days"),
        F.round(F.max("cv"), 6).alias("cv_full"),
        F.round(F.avg("cv_i"), 6).alias("cv_jack_mean"),
        F.round(
            F.sqrt(
                (F.max("n") - 1.0)
                / F.max("n")
                * F.sum(F.pow(F.col("cv_i") - F.col("cbar"), 2))
            ),
            6,
        ).alias("se_jackknife"),
        F.round(
            F.max("n") * F.max("cv") - (F.max("n") - 1) * F.avg("cv_i"), 6
        ).alias("cv_bias_corrected"),
    )


# Wilson z-constants shared by the Spark plan AND the oracle SQL below:
# the SQL literals are emitted from these exact Python floats (f-string)
# so both engines compute with bit-identical constants — a hand-rounded
# oracle literal (0.960397 vs z2/4 = 0.9603965) caused ~1e-7 pre-round
# drift that could flake a round(6) boundary (ADVICE r4).
_PDC_Z = 1.959964
_PDC_Z2 = 3.841586


@query(
    "stats-prop-diff-ci",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS grp,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS conv
            FROM events GROUP BY user_id
        ),
        arms AS (
            SELECT grp, count(*) AS n, sum(conv) AS x
            FROM per_user GROUP BY grp
        ),
        wilson AS (
            SELECT grp, n, x,
                   CAST(x AS DOUBLE) / n AS p,
                   (x + CAST({_PDC_Z2 / 2!r} AS DOUBLE)) / (n + CAST({_PDC_Z2!r} AS DOUBLE))
                       - CAST({_PDC_Z!r} AS DOUBLE) * sqrt(n) / (n + CAST({_PDC_Z2!r} AS DOUBLE))
                       * sqrt(CAST(x AS DOUBLE) / n * (1 - CAST(x AS DOUBLE) / n)
                              + CAST({_PDC_Z2 / 4!r} AS DOUBLE) / n) AS lo,
                   (x + CAST({_PDC_Z2 / 2!r} AS DOUBLE)) / (n + CAST({_PDC_Z2!r} AS DOUBLE))
                       + CAST({_PDC_Z!r} AS DOUBLE) * sqrt(n) / (n + CAST({_PDC_Z2!r} AS DOUBLE))
                       * sqrt(CAST(x AS DOUBLE) / n * (1 - CAST(x AS DOUBLE) / n)
                              + CAST({_PDC_Z2 / 4!r} AS DOUBLE) / n) AS hi
            FROM arms
        ),
        piv AS (
            SELECT max(CASE WHEN grp = 1 THEN p END) AS p1,
                   max(CASE WHEN grp = 1 THEN lo END) AS l1,
                   max(CASE WHEN grp = 1 THEN hi END) AS u1,
                   max(CASE WHEN grp = 0 THEN p END) AS p2,
                   max(CASE WHEN grp = 0 THEN lo END) AS l2,
                   max(CASE WHEN grp = 0 THEN hi END) AS u2,
                   CAST(max(CASE WHEN grp = 1 THEN n END) AS BIGINT) AS n1,
                   CAST(max(CASE WHEN grp = 0 THEN n END) AS BIGINT) AS n2
            FROM wilson
        )
        SELECT n1, n2,
               round(p1, 6) AS p_clickers,
               round(p2, 6) AS p_nonclickers,
               round(p1 - p2, 6) AS diff,
               round(p1 - p2 - sqrt(power(p1 - l1, 2)
                                    + power(u2 - p2, 2)), 6) AS ci_lo,
               round(p1 - p2 + sqrt(power(u1 - p1, 2)
                                    + power(p2 - l2, 2)), 6) AS ci_hi
        FROM piv
    """,
    doc="Newcombe hybrid-Wilson 95% CI for a DIFFERENCE of "
    "proportions (purchase rate of clickers vs non-clickers): "
    "Wilson score bounds per arm, then Newcombe's square-and-add "
    "of the one-sided margins — the interval that stays honest at "
    "extreme rates and small arms where the Wald difference CI "
    "collapses or exits [-1, 1] (analytics-conversion-ci covers "
    "the single-arm Wilson; this is the two-arm comparison every "
    "A/B readout actually reports). One per-user aggregation, a "
    "2-row arm summary, literal z-constants shared by both "
    "engines.",
    tags=("stats",),
)
def stats_prop_diff_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("grp"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    arms = per_user.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("conv").alias("x")
    )
    n, x = F.col("n"), F.col("x")
    p = x.cast("double") / n
    z, z2 = _PDC_Z, _PDC_Z2
    half = z * F.sqrt(n) / (n + z2) * F.sqrt(p * (1 - p) + z2 / 4 / n)
    center = (x + z2 / 2) / (n + z2)
    wilson = arms.select(
        "grp", "n", p.alias("p"), (center - half).alias("lo"), (center + half).alias("hi")
    )
    pick = lambda g, c: F.max(F.when(F.col("grp") == g, F.col(c)))  # noqa: E731
    piv = wilson.agg(
        pick(1, "p").alias("p1"), pick(1, "lo").alias("l1"), pick(1, "hi").alias("u1"),
        pick(0, "p").alias("p2"), pick(0, "lo").alias("l2"), pick(0, "hi").alias("u2"),
        pick(1, "n").cast("long").alias("n1"),
        pick(0, "n").cast("long").alias("n2"),
    )
    p1, p2 = F.col("p1"), F.col("p2")
    return piv.select(
        "n1",
        "n2",
        F.round(p1, 6).alias("p_clickers"),
        F.round(p2, 6).alias("p_nonclickers"),
        F.round(p1 - p2, 6).alias("diff"),
        F.round(
            p1 - p2
            - F.sqrt(F.pow(p1 - F.col("l1"), 2) + F.pow(F.col("u2") - p2, 2)),
            6,
        ).alias("ci_lo"),
        F.round(
            p1 - p2
            + F.sqrt(F.pow(F.col("u1") - p1, 2) + F.pow(p2 - F.col("l2"), 2)),
            6,
        ).alias("ci_hi"),
    )


@query(
    "sample-neyman-allocation",
    oracle="""
        WITH strat AS (
            SELECT doc_id, n_chars,
                   ntile(5) OVER (ORDER BY n_chars, doc_id) AS stratum
            FROM documents WHERE n_chars IS NOT NULL
        ),
        per AS (
            SELECT stratum, count(*) AS nh, stddev_samp(n_chars) AS sh,
                   avg(n_chars) AS mh
            FROM strat GROUP BY stratum
        ),
        tot AS (SELECT sum(nh * sh) AS z FROM per)
        SELECT CAST(per.stratum AS BIGINT) AS stratum,
               CAST(per.nh AS BIGINT) AS stratum_size,
               round(per.mh, 4) AS stratum_mean,
               round(per.sh, 4) AS stratum_sd,
               CAST(round(100.0 * per.nh * per.sh / tot.z, 0) AS BIGINT)
                   AS neyman_n,
               CAST(round(100.0 * per.nh
                          / (SELECT sum(nh) FROM per), 0) AS BIGINT)
                   AS proportional_n
        FROM per, tot
    """,
    doc="Neyman-optimal stratified sampling allocation: strata = "
    "document-length quintiles (deterministic ntile), budget 100 "
    "split as n_h proportional to N_h * S_h — high-variance strata "
    "get oversampled, which minimizes the variance of the "
    "estimated mean at fixed budget; the proportional allocation "
    "is printed beside it so the efficiency gap is visible. This "
    "is the PLANNING step before sample-stratified executes a "
    "draw (and the reason eval-panel budgets should not be split "
    "proportionally). One ntile window + one per-stratum moment "
    "aggregation; allocation math on the 5-row summary.",
    tags=("sample", "stats"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.ranking import (
        exact_ntile,
        with_global_order,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    # quintile strata via the range-sort rank (operators/ranking.py) —
    # document frame grows with the corpus, so no ntile global window.
    g = with_global_order(
        d.select("doc_id", "n_chars"), "n_chars", tiebreakers=("doc_id",),
        rn="__rn", total_count="__n",
    )
    strat = g.select(
        "n_chars",
        exact_ntile(F.col("__rn"), F.col("__n"), 5).alias("stratum"),
    )
    per = strat.groupBy("stratum").agg(
        F.count("*").alias("nh"),
        F.stddev_samp("n_chars").alias("sh"),
        F.avg("n_chars").alias("mh"),
    )
    tot = per.agg(
        F.sum(F.col("nh") * F.col("sh")).alias("z"), F.sum("nh").alias("n")
    )
    j = per.join(F.broadcast(tot))
    return j.select(
        F.col("stratum").cast("long").alias("stratum"),
        F.col("nh").cast("long").alias("stratum_size"),
        F.round("mh", 4).alias("stratum_mean"),
        F.round("sh", 4).alias("stratum_sd"),
        F.round(100.0 * F.col("nh") * F.col("sh") / F.col("z"), 0)
        .cast("long")
        .alias("neyman_n"),
        F.round(100.0 * F.col("nh") / F.col("n"), 0)
        .cast("long")
        .alias("proportional_n"),
    )


@query(
    "stats-lin-concordance",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   avg(CASE WHEN event_type = 'click' THEN value END) AS x,
                   avg(CASE WHEN event_type = 'view' THEN value END) AS y
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY CAST(ts AS DATE)
        ),
        m AS (
            SELECT count(*) AS n,
                   avg(x) AS mx, avg(y) AS my,
                   var_pop(x) AS vx, var_pop(y) AS vy,
                   covar_pop(x, y) AS cxy,
                   corr(x, y) AS r
            FROM daily WHERE x IS NOT NULL AND y IS NOT NULL
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(r, 6) AS pearson_r,
               round(2 * cxy / (vx + vy + power(mx - my, 2)), 6) AS lin_ccc,
               round(2 * cxy / (vx + vy + power(mx - my, 2)) / r, 6)
                   AS bias_correction_factor
        FROM m
    """,
    doc="Lin's concordance correlation between click and view daily "
    "mean values: CCC = 2*cov / (vx + vy + (mx - my)^2) penalizes "
    "LOCATION and SCALE disagreement that Pearson r ignores (two "
    "instruments can correlate at 0.99 while one reads 2x high — "
    "r says interchangeable, CCC says broken), so CCC is the "
    "method-agreement statistic for validating a cheap metric "
    "against an expensive one. The ratio CCC/r is the "
    "bias-correction factor isolating pure calibration error. "
    "Population moments in one aggregation over the paired daily "
    "summary.",
    tags=("stats",),
)
def stats_lin_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.avg(F.when(F.col("event_type") == "click", F.col("value"))).alias("x"),
            F.avg(F.when(F.col("event_type") == "view", F.col("value"))).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    m = daily.agg(
        F.count("*").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.var_pop("x").alias("vx"),
        F.var_pop("y").alias("vy"),
        F.covar_pop("x", "y").alias("cxy"),
        F.corr("x", "y").alias("r"),
    )
    ccc = (
        2
        * F.col("cxy")
        / (F.col("vx") + F.col("vy") + F.pow(F.col("mx") - F.col("my"), 2))
    )
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        F.round("r", 6).alias("pearson_r"),
        F.round(ccc, 6).alias("lin_ccc"),
        F.round(ccc / F.col("r"), 6).alias("bias_correction_factor"),
    )


_EWMA_L = 0.2  # smoothing weight; 15-lag unroll truncates at 0.8^15 ~ 3.5%


@query(
    "stats-ewma-control-chart",
    # lag weights below are emitted from the SAME Python floats the
    # Spark plan computes ((1-lam)**k differs from hand-rounded decimal
    # literals by 1 ulp for several k — ADVICE r4)
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   sum(o_totalprice) AS rev
            FROM orders WHERE o_orderdate IS NOT NULL GROUP BY CAST(o_orderdate AS DATE)
        ),
        base AS (
            SELECT avg(rev) AS mu, stddev_samp(rev) AS sd FROM daily
        ),
        ew AS (
            SELECT d.day, d.rev, b.mu, b.sd,
                   row_number() OVER (ORDER BY d.day) AS rn,
                   CAST({_EWMA_L!r} AS DOUBLE) * (rev
                     + CAST({(1 - _EWMA_L) ** 1!r} AS DOUBLE) * lag(rev, 1) OVER w
                     + CAST({(1 - _EWMA_L) ** 2!r} AS DOUBLE) * lag(rev, 2) OVER w
                     + CAST({(1 - _EWMA_L) ** 3!r} AS DOUBLE) * lag(rev, 3) OVER w
                     + CAST({(1 - _EWMA_L) ** 4!r} AS DOUBLE) * lag(rev, 4) OVER w
                     + CAST({(1 - _EWMA_L) ** 5!r} AS DOUBLE) * lag(rev, 5) OVER w
                     + CAST({(1 - _EWMA_L) ** 6!r} AS DOUBLE) * lag(rev, 6) OVER w
                     + CAST({(1 - _EWMA_L) ** 7!r} AS DOUBLE) * lag(rev, 7) OVER w
                     + CAST({(1 - _EWMA_L) ** 8!r} AS DOUBLE) * lag(rev, 8) OVER w
                     + CAST({(1 - _EWMA_L) ** 9!r} AS DOUBLE) * lag(rev, 9) OVER w
                     + CAST({(1 - _EWMA_L) ** 10!r} AS DOUBLE) * lag(rev, 10) OVER w
                     + CAST({(1 - _EWMA_L) ** 11!r} AS DOUBLE) * lag(rev, 11) OVER w
                     + CAST({(1 - _EWMA_L) ** 12!r} AS DOUBLE) * lag(rev, 12) OVER w
                     + CAST({(1 - _EWMA_L) ** 13!r} AS DOUBLE) * lag(rev, 13) OVER w
                     + CAST({(1 - _EWMA_L) ** 14!r} AS DOUBLE) * lag(rev, 14) OVER w
                     )
                   + CAST({(1 - _EWMA_L) ** 15!r} AS DOUBLE) * b.mu AS z
            FROM daily d, base b
            WINDOW w AS (ORDER BY d.day)
        )
        SELECT day, round(rev, 4) AS rev, round(z, 4) AS ewma,
               round(mu + 3 * sd * sqrt(CAST({_EWMA_L / (2 - _EWMA_L)!r} AS DOUBLE)), 4) AS ucl,
               round(mu - 3 * sd * sqrt(CAST({_EWMA_L / (2 - _EWMA_L)!r} AS DOUBLE)), 4) AS lcl,
               CAST(CASE WHEN z > mu + 3 * sd * sqrt(CAST({_EWMA_L / (2 - _EWMA_L)!r} AS DOUBLE))
                          OR z < mu - 3 * sd * sqrt(CAST({_EWMA_L / (2 - _EWMA_L)!r} AS DOUBLE))
                         THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
        FROM ew WHERE rn >= 15
    """,
    doc="EWMA control chart on daily revenue (lambda = 0.2): the "
    "geometric recursion unrolled to 15 lag terms with the "
    "truncated tail replaced by its expectation (0.8^15 * mu, "
    "3.5% weight — documented, deterministic), asymptotic 3-sigma "
    "limits mu +/- 3 sd sqrt(lambda/(2-lambda)). EWMA charts "
    "catch SMALL sustained shifts (0.5-1.5 sd) far sooner than "
    "the Shewhart chart's per-point rule — with "
    "stats-xbar-control-chart (big shifts) and timeseries-cusum "
    "(cumulative drift) this completes the SPC trio. Warm-up rows "
    "dropped; one window sort over the day summary.",
    tags=("stats", "timeseries"),
)
def stats_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    daily = od.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    base = daily.agg(F.avg("rev").alias("mu"), F.stddev_samp("rev").alias("sd"))
    w = Window.orderBy("day")
    lam = _EWMA_L
    z = lam * (
        F.col("rev")
        + sum(((1 - lam) ** k) * F.lag("rev", k).over(w) for k in range(1, 15))
    ) + ((1 - lam) ** 15) * F.col("mu")
    ew = daily.join(F.broadcast(base)).select(
        "day",
        "rev",
        "mu",
        "sd",
        F.row_number().over(w).alias("rn"),
        z.alias("z"),
    )
    half = 3 * F.col("sd") * F.sqrt(F.lit(lam / (2 - lam)))
    ucl, lcl = F.col("mu") + half, F.col("mu") - half
    return ew.filter(F.col("rn") >= 15).select(
        "day",
        F.round("rev", 4).alias("rev"),
        F.round("z", 4).alias("ewma"),
        F.round(ucl, 4).alias("ucl"),
        F.round(lcl, 4).alias("lcl"),
        F.when((F.col("z") > ucl) | (F.col("z") < lcl), 1)
        .otherwise(0)
        .cast("long")
        .alias("out_of_control"),
    )


@query(
    "stats-binary-confusion-battery",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS pred,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS actual
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ),
        cm AS (
            SELECT CAST(sum(pred * actual) AS DOUBLE) AS tp,
                   CAST(sum(pred * (1 - actual)) AS DOUBLE) AS fp,
                   CAST(sum((1 - pred) * actual) AS DOUBLE) AS fn,
                   CAST(sum((1 - pred) * (1 - actual)) AS DOUBLE) AS tn
            FROM per_user
        )
        SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
               CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
               round((tp * tn - fp * fn)
                     / sqrt((tp + fp) * (tp + fn)
                            * (tn + fp) * (tn + fn)), 6) AS mcc,
               round(0.5 * (tp / (tp + fn) + tn / (tn + fp)), 6)
                   AS balanced_accuracy,
               round(tp / (tp + fn) + tn / (tn + fp) - 1, 6)
                   AS youden_informedness,
               round(2 * tp / (2 * tp + fp + fn), 6) AS f1
        FROM cm
    """,
    doc="Binary confusion battery for 'clicking predicts purchasing, "
    "same day' on user-day units (per-USER both flags saturate to "
    "1 -- every cell but TP empties and MCC divides by zero): "
    "MCC (the only single number that stays honest under class "
    "imbalance — it is the phi correlation of the 2x2 table), "
    "balanced accuracy, Youden informedness, F1, plus the raw "
    "cells so any other metric is recomputable. Accuracy and F1 "
    "both look fine on a 99:1 class split where MCC ~ 0 exposes a "
    "useless predictor — the reason imbalanced-data evals lead "
    "with it (stats-roc-auc-binned ranks scores; this scores one "
    "hard threshold). One per-user aggregation, one 4-cell "
    "summary.",
    tags=("stats",),
)
def stats_binary_confusion_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("pred"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "actual"
        ),
    )
    cm = per_user.agg(
        F.sum(F.col("pred") * F.col("actual")).cast("double").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("actual"))).cast("double").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("actual")).cast("double").alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("actual")))
        .cast("double")
        .alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    sens, spec = tp / (tp + fn), tn / (tn + fp)
    return cm.select(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        F.round(
            (tp * tn - fp * fn)
            / F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)),
            6,
        ).alias("mcc"),
        F.round(0.5 * (sens + spec), 6).alias("balanced_accuracy"),
        F.round(sens + spec - 1, 6).alias("youden_informedness"),
        F.round(2 * tp / (2 * tp + fp + fn), 6).alias("f1"),
    )


_FK_SALT = ":fleiss-salt-r5"


@query(
    "eval-fleiss-kappa",
    oracle=f"""
        WITH ratings AS (
            SELECT e.event_id,
                   CASE WHEN ({sql_string_hash(
                       "CAST(e.event_id AS VARCHAR) || ':' ||"
                       " CAST(t.r AS VARCHAR) || '" + _FK_SALT + "'"
                   )}) % 4 = 0
                        THEN (least(CAST(floor(e.value / 34) AS BIGINT), 2)
                              + 1
                              + ({sql_string_hash(
                       "CAST(e.event_id AS VARCHAR) || ':n:' ||"
                       " CAST(t.r AS VARCHAR) || '" + _FK_SALT + "'"
                   )}) % 2) % 3
                        ELSE least(CAST(floor(e.value / 34) AS BIGINT), 2)
                   END AS cat
            FROM events e
            CROSS JOIN (SELECT unnest(range(3)) AS r) t
        ),
        cell AS (
            SELECT event_id, cat, CAST(count(*) AS DOUBLE) AS nij
            FROM ratings GROUP BY event_id, cat
        ),
        per_subj AS (
            SELECT event_id,
                   (sum(nij * nij) - 3) / (3.0 * 2.0) AS p_i
            FROM cell GROUP BY event_id
        ),
        pj AS (
            SELECT cat, sum(nij) AS nj FROM cell GROUP BY cat
        ),
        pe AS (
            SELECT sum((nj / (SELECT sum(nj) FROM pj))
                       * (nj / (SELECT sum(nj) FROM pj))) AS pe
            FROM pj
        )
        SELECT CAST(count(*) AS BIGINT) AS n_subjects,
               round(avg(p_i), 6) AS p_bar,
               round(max(pe.pe), 6) AS p_e,
               round((avg(p_i) - max(pe.pe)) / (1 - max(pe.pe)), 6)
                   AS fleiss_kappa
        FROM per_subj CROSS JOIN pe
    """,
    doc="Fleiss' kappa inter-annotator agreement for 3 raters x 3 "
    "categories (raters are deterministic hash-perturbed copies of a "
    "value-band label — ~25% noise rate — so the statistic exercises "
    "real disagreement): P_i per subject from category count squares, "
    "chance agreement P_e from squared marginals, kappa = "
    "(P_bar - P_e)/(1 - P_e). THE quality gate for human-labeled "
    "training data — a labeling pipeline whose kappa is near chance "
    "produces noise, not signal, and rater-subset kappas localize "
    "the problem. Plan: rater fan-out is an explicit 3x constant, "
    "then two hash aggregations (per-subject, per-category) and a "
    "1-row chance term — no windows at all.",
    tags=("eval", "stats"),
)
def eval_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.dedup import string_hash

    ev = load_table(spark, sf_dir, "events")
    base = F.least(F.floor(F.col("value") / 34).cast("long"), F.lit(2))
    r = ev.select("event_id", "value").select(
        "event_id",
        "value",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("r"),
    )
    noisy = (
        string_hash(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit(":"),
                F.col("r").cast("string"),
                F.lit(_FK_SALT),
            )
        )
        % 4
        == 0
    )
    shift = (
        string_hash(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit(":n:"),
                F.col("r").cast("string"),
                F.lit(_FK_SALT),
            )
        )
        % 2
    )
    ratings = r.select(
        "event_id",
        F.when(noisy, (base + 1 + shift) % 3).otherwise(base).alias("cat"),
    )
    # persist the per-(subject, category) cell counts: the per-subject
    # agreement and the category margins both re-consume them (3 events
    # scans with the rater fan-out re-run per branch). r11 tried this
    # persist at the static 32-partition cache width and reverted
    # (+18%); the cached shape now coalesces to summary width
    # (session.cache_width), which removes the width drag.
    cell = (
        ratings.groupBy("event_id", "cat")
        .agg(F.count("*").cast("double").alias("nij"))
        .coalesce(cache_width(spark))
        .persist()
    )
    per_subj = cell.groupBy("event_id").agg(
        ((F.sum(F.col("nij") * F.col("nij")) - 3) / (3.0 * 2.0)).alias("p_i")
    )
    pj = cell.groupBy("cat").agg(F.sum("nij").alias("nj"))
    tot = pj.agg(F.sum("nj").alias("tot"))
    pe = (
        pj.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("nj") / F.col("tot")) * (F.col("nj") / F.col("tot"))
            ).alias("pe")
        )
    )
    return per_subj.crossJoin(F.broadcast(pe)).agg(
        F.count("*").cast("long").alias("n_subjects"),
        F.round(F.avg("p_i"), 6).alias("p_bar"),
        F.round(F.max("pe"), 6).alias("p_e"),
        F.round(
            (F.avg("p_i") - F.max("pe")) / (1 - F.max("pe")), 6
        ).alias("fleiss_kappa"),
    )
