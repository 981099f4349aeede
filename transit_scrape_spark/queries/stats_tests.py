"""Hypothesis tests (parametric + rank/nonparametric + multiple-
comparison control) over the warehouse tables. Split from
stats.py in round 6. Same @query/oracle discipline as stats.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from transit_scrape_spark.operators.dedup import sql_string_hash
from transit_scrape_spark.queries.registry import query
from transit_scrape_spark.sources.tables import load_table


@query(
    "stats-chi-square",
    oracle="""
        WITH cells AS (
            SELECT event_type, CAST(user_id % 4 AS BIGINT) AS seg,
                   CAST(count(*) AS BIGINT) AS obs
            FROM events
            WHERE ts IS NOT NULL AND event_type IS NOT NULL
            GROUP BY event_type, user_id % 4
        ),
        -- densify: an EMPTY cell still contributes its expected count E
        -- to chi2 ((0-E)^2/E = E); summing over present cells only
        -- understates the statistic on sparse grids (the g-test/kappa
        -- sparse-grid class, hardened proactively)
        grid AS (
            SELECT a.event_type, b.seg, coalesce(c.obs, 0) AS obs
            FROM (SELECT DISTINCT event_type FROM cells) a
            CROSS JOIN (SELECT DISTINCT seg FROM cells) b
            LEFT JOIN cells c ON c.event_type = a.event_type
                             AND c.seg = b.seg
        ),
        tot AS (
            SELECT event_type, seg, obs,
                   sum(obs) OVER (PARTITION BY event_type) AS row_tot,
                   sum(obs) OVER (PARTITION BY seg) AS col_tot,
                   sum(obs) OVER () AS n
            FROM grid
        )
        SELECT CAST(max(n) AS BIGINT) AS n_events,
               CAST((count(DISTINCT event_type) - 1)
                    * (count(DISTINCT seg) - 1) AS BIGINT) AS dof,
               round(sum(power(obs - CAST(row_tot AS DOUBLE) * col_tot / n, 2)
                         / (CAST(row_tot AS DOUBLE) * col_tot / n)), 6) AS chi2,
               round(sqrt(sum(power(obs - CAST(row_tot AS DOUBLE) * col_tot / n, 2)
                              / (CAST(row_tot AS DOUBLE) * col_tot / n))
                          / (max(n) * least(count(DISTINCT event_type) - 1,
                                            count(DISTINCT seg) - 1))), 6)
                   AS cramers_v
        FROM tot
    """,
    doc="Chi-square test of independence (event_type x user segment) "
    "plus Cramer's V effect size: ONE hash aggregation builds the "
    "r x c contingency table (20 cells), and the expected counts, "
    "statistic, and V all ride windows over that summary-sized "
    "aggregate — the fact table is touched exactly once, map-side "
    "combinable. The shape every 'is metric X independent of "
    "segment Y' dashboard question reduces to.",
    tags=("stats",),
)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL category rows break the densify grid (NULL join keys never
    # match, so a whole row-margin collapses to 0 and exp divides by 0)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    # persist the BOUNDED contingency cells (<= #event_types x 4 rows
    # at any scale): both densify-universe projections and the grid
    # join re-consumed them (3 events scans -> 1)
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 4).cast("long").alias("seg")
    ).agg(F.count("*").alias("obs")).coalesce(1).persist()
    # densify: empty cells contribute E to chi2 (see oracle note)
    grid = (
        cells.select("event_type").distinct()
        .crossJoin(F.broadcast(cells.select("seg").distinct()))
        .join(cells, ["event_type", "seg"], "left")
        .select(
            "event_type", "seg", F.coalesce("obs", F.lit(0)).alias("obs")
        )
    )
    tot = grid.select(
        "event_type",
        "seg",
        "obs",
        F.sum("obs").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("seg")).alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    exp = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    term = F.pow(F.col("obs") - exp, 2) / exp
    return tot.agg(
        F.max("n").cast("long").alias("n_events"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("seg") - 1)
        ).cast("long").alias("dof"),
        F.round(F.sum(term), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.sum(term)
                / (
                    F.max("n")
                    * F.least(
                        F.countDistinct("event_type") - 1,
                        F.countDistinct("seg") - 1,
                    )
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "stats-mann-whitney",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS m
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY event_type, CAST(ts AS DATE)
        ),
        ranked AS (
            SELECT event_type,
                   row_number() OVER (ORDER BY m, event_type, day) AS r
            FROM daily
        )
        SELECT CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2,
               round(sum(CASE WHEN event_type = 'click' THEN CAST(r AS DOUBLE)
                              ELSE 0 END)
                     - sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       * (sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                          + 1.0) / 2, 6) AS u1,
               round((sum(CASE WHEN event_type = 'click' THEN CAST(r AS DOUBLE)
                               ELSE 0 END)
                      - sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        * (sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                           + 1.0) / 2
                      - sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        * CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                               AS DOUBLE) / 2)
                     / sqrt(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                            * CAST(sum(CASE WHEN event_type = 'view'
                                            THEN 1 ELSE 0 END) AS DOUBLE)
                            * (count(*) + 1.0) / 12), 6) AS z
        FROM ranked
    """,
    doc="Mann-Whitney U (rank-sum) test comparing click-vs-view daily "
    "mean values: the fact pass is one groupBy(type, day) hash "
    "aggregation; ranking then runs over the ~60-row daily summary, "
    "never the raw events (the scale discipline every rank test "
    "needs — rank the AGGREGATE, not the facts). U1 = R1 - "
    "n1(n1+1)/2 and the normal-approximation z-score "
    "(U1 - n1*n2/2)/sqrt(n1*n2*(n+1)/12). Deterministic tie-break "
    "(type, day) in the rank order keeps Spark and the oracle "
    "bit-identical; daily means of continuous doubles make real "
    "ties measure-zero so the average-rank tie correction is "
    "deliberately omitted.",
    tags=("stats",),
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.avg("value").alias("m"))
    )
    ranked = daily.select(
        "event_type",
        F.row_number().over(Window.orderBy("m", "event_type", "day")).alias("r"),
    )
    is1 = F.when(F.col("event_type") == "click", 1).otherwise(0)
    n1 = F.sum(is1)
    n2 = F.sum(1 - is1)
    r1 = F.sum(F.when(F.col("event_type") == "click", F.col("r").cast("double")).otherwise(0.0))
    u1 = r1 - n1 * (n1 + 1.0) / 2
    z = (u1 - n1 * n2.cast("double") / 2) / F.sqrt(
        n1 * n2.cast("double") * (F.count("*") + 1.0) / 12
    )
    return ranked.agg(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        F.round(u1, 6).alias("u1"),
        F.round(z, 6).alias("z"),
    )


@query(
    "stats-anova-oneway",
    oracle="""
        WITH g AS (
            SELECT event_type, count(*) AS n, avg(value) AS m,
                   var_samp(value) AS s2
            FROM events GROUP BY event_type
        ),
        grand AS (
            SELECT sum(n * m) / sum(n) AS gm, sum(n) AS n_tot,
                   count(*) AS k
            FROM g
        )
        SELECT CAST(max(n_tot) AS BIGINT) AS n,
               CAST(max(k) - 1 AS BIGINT) AS dof_between,
               CAST(max(n_tot) - max(k) AS BIGINT) AS dof_within,
               round(sum(n * power(m - gm, 2)) / (max(k) - 1), 6)
                   AS ms_between,
               round(sum((n - 1) * s2) / (max(n_tot) - max(k)), 6)
                   AS ms_within,
               round((sum(n * power(m - gm, 2)) / (max(k) - 1))
                     / (sum((n - 1) * s2) / (max(n_tot) - max(k))), 6)
                   AS f_stat
        FROM g, grand
    """,
    doc="One-way ANOVA F-test (does mean value differ across "
    "event_type groups): ONE hash aggregation computes per-group "
    "(n, mean, var) partials — map-side combinable, no raw-row "
    "shuffle — and SS_between / SS_within / F ride the 5-row "
    "summary. The decomposition sum(n_g*(m_g-gm)^2) and "
    "sum((n_g-1)*s2_g) is exactly how a distributed engine avoids "
    "the two-pass textbook formula: group moments merge "
    "associatively, grand mean is a weighted mean of group means.",
    tags=("stats",),
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("s2"),
    )
    grand = g.agg(
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        F.sum("n").alias("n_tot"),
        F.count("*").alias("k"),
    )
    j = g.crossJoin(F.broadcast(grand))
    ssb = F.sum(F.col("n") * F.pow(F.col("m") - F.col("gm"), 2))
    ssw = F.sum((F.col("n") - 1) * F.col("s2"))
    msb = ssb / (F.max("k") - 1)
    msw = ssw / (F.max("n_tot") - F.max("k"))
    return j.agg(
        F.max("n_tot").cast("long").alias("n"),
        (F.max("k") - 1).cast("long").alias("dof_between"),
        (F.max("n_tot") - F.max("k")).cast("long").alias("dof_within"),
        F.round(msb, 6).alias("ms_between"),
        F.round(msw, 6).alias("ms_within"),
        F.round(msb / msw, 6).alias("f_stat"),
    )


@query(
    "stats-welch-ttest",
    oracle="""
        WITH g AS (
            SELECT count(CASE WHEN event_type = 'click' THEN value END)
                       AS n1,
                   count(CASE WHEN event_type = 'view' THEN value END)
                       AS n2,
                   avg(CASE WHEN event_type = 'click' THEN value END) AS m1,
                   avg(CASE WHEN event_type = 'view' THEN value END) AS m2,
                   var_samp(CASE WHEN event_type = 'click' THEN value END)
                       AS v1,
                   var_samp(CASE WHEN event_type = 'view' THEN value END)
                       AS v2
            FROM events WHERE event_type IN ('click', 'view')
        )
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               round(m1 - m2, 6) AS mean_diff,
               round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
               round(power(v1 / n1 + v2 / n2, 2)
                     / (power(v1 / n1, 2) / (n1 - 1)
                        + power(v2 / n2, 2) / (n2 - 1)), 6) AS dof_welch
        FROM g
    """,
    doc="Welch's unequal-variance t-test (click vs view mean value): "
    "one conditional-aggregate pass computes both groups' "
    "(n, mean, var) in a single scan — no split-then-union, no "
    "second fact pass — and t plus the Welch-Satterthwaite degrees "
    "of freedom are scalar arithmetic on the 1-row summary. The "
    "conditional-agg single-scan shape is the scale move: two "
    "filtered subqueries would read the fact table twice.",
    tags=("stats",),
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    click = F.when(F.col("event_type") == "click", F.col("value"))
    view = F.when(F.col("event_type") == "view", F.col("value"))
    g = ev.agg(
        F.count(click).alias("n1"),
        F.count(view).alias("n2"),
        F.avg(click).alias("m1"),
        F.avg(view).alias("m2"),
        F.var_samp(click).alias("v1"),
        F.var_samp(view).alias("v2"),
    )
    se2_1 = F.col("v1") / F.col("n1")
    se2_2 = F.col("v2") / F.col("n2")
    return g.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round(
            (F.col("m1") - F.col("m2")) / F.sqrt(se2_1 + se2_2), 6
        ).alias("t_stat"),
        F.round(
            F.pow(se2_1 + se2_2, 2)
            / (
                F.pow(se2_1, 2) / (F.col("n1") - 1)
                + F.pow(se2_2, 2) / (F.col("n2") - 1)
            ),
            6,
        ).alias("dof_welch"),
    )


@query(
    "stats-benjamini-hochberg",
    oracle="""
        WITH grand AS (
            SELECT avg(value) AS gm, var_samp(value) AS gv FROM events
        ),
        g AS (
            SELECT event_type, count(*) AS n, avg(value) AS m
            FROM events GROUP BY event_type
        ),
        tests AS (
            SELECT event_type,
                   abs(m - gm) / sqrt(gv / n) AS z,
                   exp(-power(abs(m - gm) / sqrt(gv / n), 2) / 2) AS p
            FROM g, grand
        ),
        ranked AS (
            SELECT event_type, z, p,
                   row_number() OVER (ORDER BY p, event_type) AS k,
                   count(*) OVER () AS m_tests
            FROM tests
        ),
        flagged AS (
            SELECT *,
                   max(CASE WHEN p <= 0.05 * k / m_tests THEN k ELSE 0 END)
                       OVER () AS k_max
            FROM ranked
        )
        SELECT event_type, round(z, 6) AS z, round(p, 6) AS p,
               CAST(k AS BIGINT) AS k,
               round(0.05 * k / m_tests, 6) AS bh_threshold,
               k <= k_max AS rejected
        FROM flagged ORDER BY k
    """,
    doc="Benjamini-Hochberg FDR control over a family of per-segment "
    "location tests: each event_type's mean is z-tested against the "
    "grand mean (p-value surrogate exp(-z^2/2) — the Chernoff upper "
    "bound, engine-portable without erf, monotone in |z| which is "
    "all BH's ORDERING needs), then the BH step-up runs entirely on "
    "the 5-row test summary: sort by p, compare to alpha*k/m, and "
    "the step-up 'reject all k <= argmax' via a window max. The "
    "pattern for any metric-monitoring system running thousands of "
    "parallel segment tests: facts aggregated once, multiple-testing "
    "correction on the summary.",
    tags=("stats",),
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    grand = ev.agg(
        F.avg("value").alias("gm"), F.var_samp("value").alias("gv")
    )
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.avg("value").alias("m")
    )
    z = F.abs(F.col("m") - F.col("gm")) / F.sqrt(F.col("gv") / F.col("n"))
    tests = g.crossJoin(F.broadcast(grand)).select(
        "event_type", z.alias("z"), F.exp(-F.pow(z, 2) / 2).alias("p")
    )
    ranked = tests.select(
        "event_type",
        "z",
        "p",
        F.row_number().over(Window.orderBy("p", "event_type")).alias("k"),
        F.count("*").over(Window.partitionBy()).alias("m_tests"),
    )
    flagged = ranked.withColumn(
        "k_max",
        F.max(
            F.when(
                F.col("p") <= 0.05 * F.col("k") / F.col("m_tests"), F.col("k")
            ).otherwise(0)
        ).over(Window.partitionBy()),
    )
    return flagged.select(
        "event_type",
        F.round("z", 6).alias("z"),
        F.round("p", 6).alias("p"),
        F.col("k").cast("long").alias("k"),
        F.round(0.05 * F.col("k") / F.col("m_tests"), 6).alias("bh_threshold"),
        (F.col("k") <= F.col("k_max")).alias("rejected"),
    ).orderBy("k")


@query(
    "stats-runs-test",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, count(*) AS x
            FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
        ),
        moves AS (
            SELECT day,
                   CASE WHEN x > lag(x) OVER (ORDER BY day) THEN 1
                        WHEN x < lag(x) OVER (ORDER BY day) THEN 0
                        END AS up
            FROM daily
        ),
        runs AS (
            SELECT up,
                   CASE WHEN lag(up) OVER (ORDER BY day) IS NULL
                             OR up <> lag(up) OVER (ORDER BY day)
                        THEN 1 ELSE 0 END AS new_run
            FROM moves WHERE up IS NOT NULL
        ),
        s AS (
            SELECT CAST(sum(up) AS DOUBLE) AS n1,
                   CAST(sum(1 - up) AS DOUBLE) AS n2,
                   CAST(sum(new_run) AS DOUBLE) AS r
            FROM runs
        )
        SELECT CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
               CAST(r AS BIGINT) AS n_runs,
               round(2 * n1 * n2 / (n1 + n2) + 1, 6) AS expected_runs,
               round((r - (2 * n1 * n2 / (n1 + n2) + 1))
                     / sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                            / (power(n1 + n2, 2) * (n1 + n2 - 1))), 6)
                   AS z
        FROM s
    """,
    doc="Wald-Wolfowitz runs test for randomness of the daily volume's "
    "up/down moves: consecutive same-direction moves collapse into "
    "runs (a lag()-equality flag summed — the gaps-and-islands "
    "counter), and the observed run count is z-scored against the "
    "E[R] = 2*n1*n2/(n1+n2)+1 null of an exchangeable sequence. "
    "Too few runs = trending, too many = oscillating. Facts "
    "collapse in one hash agg; every window runs over the ~30-row "
    "daily summary. Ties (x equal to previous) drop out as NULL "
    "moves, the standard treatment. Integer counts make tie days "
    "possible but rare; they shrink n, not correctness.",
    tags=("stats", "timeseries"),
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    w = Window.orderBy("day")
    moves = daily.select(
        "day",
        F.when(F.col("x") > F.lag("x").over(w), 1)
        .when(F.col("x") < F.lag("x").over(w), 0)
        .alias("up"),
    )
    runs = moves.filter(F.col("up").isNotNull()).select(
        "day",
        "up",
        F.when(
            F.lag("up").over(w).isNull()
            | (F.col("up") != F.lag("up").over(w)),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    s = runs.agg(
        F.sum("up").cast("double").alias("n1"),
        F.sum(1 - F.col("up")).cast("double").alias("n2"),
        F.sum("new_run").cast("double").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    er = 2 * n1 * n2 / (n1 + n2) + 1
    vr = (
        2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        / (F.pow(n1 + n2, 2) * (n1 + n2 - 1))
    )
    return s.select(
        n1.cast("long").alias("n_up"),
        n2.cast("long").alias("n_down"),
        r.cast("long").alias("n_runs"),
        F.round(er, 6).alias("expected_runs"),
        F.round((r - er) / F.sqrt(vr), 6).alias("z"),
    )


@query(
    "stats-levene-median",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS md
            FROM events GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, abs(e.value - m.md) AS z
            FROM events e JOIN med m ON e.event_type = m.event_type
        ),
        g AS (
            SELECT event_type, count(*) AS n, avg(z) AS mz,
                   var_samp(z) AS s2
            FROM dev GROUP BY event_type
        ),
        grand AS (
            SELECT sum(n * mz) / sum(n) AS gm, sum(n) AS n_tot,
                   count(*) AS k
            FROM g
        )
        SELECT CAST(max(n_tot) AS BIGINT) AS n,
               CAST(max(k) - 1 AS BIGINT) AS dof_between,
               CAST(max(n_tot) - max(k) AS BIGINT) AS dof_within,
               round((sum(n * power(mz - gm, 2)) / (max(k) - 1))
                     / (sum((n - 1) * s2) / (max(n_tot) - max(k))), 6)
                   AS levene_w
        FROM g, grand
    """,
    doc="Brown-Forsythe / Levene test for homogeneity of variances "
    "across event_type groups: a one-way ANOVA on absolute "
    "deviations from each group's MEDIAN (the robust variant — "
    "mean-centered Levene inflates under skew). Two fact passes by "
    "necessity: exact per-group medians (percentile aggregate; "
    "approx_percentile at 100 TB), then deviations re-aggregated "
    "through the SAME group-moment decomposition as "
    "stats-anova-oneway — the median join is a broadcast of 5 "
    "rows, everything else map-side combinable. The test to run "
    "BEFORE trusting stats-anova-oneway, which assumes the "
    "variances this one checks.",
    tags=("stats",),
)
def stats_levene_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("md")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("md")).alias("z")
    )
    # persist the 5-row per-group deviation summary: the grand means and
    # the F-ratio join both consume it — unpersisted each re-planned the
    # exact-percentile median + deviation join (4 events scans in the
    # r11 before-plan)
    g = dev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("z").alias("mz"),
        F.var_samp("z").alias("s2"),
    ).persist()
    grand = g.agg(
        (F.sum(F.col("n") * F.col("mz")) / F.sum("n")).alias("gm"),
        F.sum("n").alias("n_tot"),
        F.count("*").alias("k"),
    )
    j = g.crossJoin(F.broadcast(grand))
    msb = F.sum(F.col("n") * F.pow(F.col("mz") - F.col("gm"), 2)) / (
        F.max("k") - 1
    )
    msw = F.sum((F.col("n") - 1) * F.col("s2")) / (
        F.max("n_tot") - F.max("k")
    )
    return j.agg(
        F.max("n_tot").cast("long").alias("n"),
        (F.max("k") - 1).cast("long").alias("dof_between"),
        (F.max("n_tot") - F.max("k")).cast("long").alias("dof_within"),
        F.round(msb / msw, 6).alias("levene_w"),
    )


@query(
    "stats-power-proportions",
    oracle="""
        WITH base AS (
            SELECT CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS p1
            FROM events
        ),
        params AS (
            SELECT p1, p1 * 1.10 AS p2, 1.959964 AS za, 0.841621 AS zb
            FROM base
        )
        SELECT round(p1, 6) AS baseline_rate,
               round(p2, 6) AS target_rate,
               CAST(ceil(power(za * sqrt(2 * ((p1 + p2) / 2)
                                         * (1 - (p1 + p2) / 2))
                               + zb * sqrt(p1 * (1 - p1) + p2 * (1 - p2)),
                               2)
                         / power(p2 - p1, 2)) AS BIGINT)
                   AS n_per_variant
        FROM params
    """,
    doc="A/B test sample-size calculator for a two-proportion z-test "
    "(alpha=5% two-sided, power=80%, MDE = +10% relative): the "
    "baseline conversion rate comes from ONE fact aggregation "
    "(purchase share of events), and the pooled-variance "
    "formula n = (z_a*sqrt(2*pbar*(1-pbar)) + "
    "z_b*sqrt(p1(1-p1)+p2(1-p2)))^2 / (p2-p1)^2 is scalar algebra "
    "on the 1-row summary. The normal quantiles are literals "
    "(1.959964, 0.841621) — engine-portable without an inverse-"
    "erf, and fixed by the chosen alpha/power, not the data. The "
    "planning query every experimentation platform runs before "
    "launching a test.",
    tags=("stats",),
)
def stats_power_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("double")
            / F.count("*")
        ).alias("p1")
    )
    p1, za, zb = F.col("p1"), F.lit(1.959964), F.lit(0.841621)
    p2 = p1 * 1.10
    pbar = (p1 + p2) / 2
    n = F.ceil(
        F.pow(
            za * F.sqrt(2 * pbar * (1 - pbar))
            + zb * F.sqrt(p1 * (1 - p1) + p2 * (1 - p2)),
            2,
        )
        / F.pow(p2 - p1, 2)
    )
    return base.select(
        F.round(p1, 6).alias("baseline_rate"),
        F.round(p2, 6).alias("target_rate"),
        n.cast("long").alias("n_per_variant"),
    )


@query(
    "stats-friedman-test",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, event_type, avg(value) AS m
            FROM events GROUP BY CAST(ts AS DATE), event_type
        ),
        complete AS (
            SELECT day FROM daily GROUP BY day HAVING count(*) = 5
        ),
        ranked AS (
            SELECT d.day, d.event_type,
                   CAST(rank() OVER (PARTITION BY d.day ORDER BY d.m)
                        AS DOUBLE) AS r
            FROM daily d JOIN complete c ON c.day = d.day
        ),
        rsums AS (
            SELECT event_type, sum(r) AS rj,
                   CAST(count(*) AS DOUBLE) AS n
            FROM ranked GROUP BY event_type
        )
        SELECT CAST(max(n) AS BIGINT) AS n_days,
               CAST(count(*) AS BIGINT) AS k_treatments,
               round(12.0 / (max(n) * count(*) * (count(*) + 1))
                     * sum(rj * rj)
                     - 3 * max(n) * (count(*) + 1), 6) AS friedman_chi2
        FROM rsums
    """,
    doc="Friedman test (nonparametric repeated-measures ANOVA): do "
    "the five event types' daily mean values rank consistently "
    "across days? Each complete day is a block; types are ranked "
    "WITHIN the day (a 5-row partition — the ranking is "
    "summary-local, never a global sort) and chi2_F = "
    "12/(n*k*(k+1)) * sum(Rj^2) - 3n(k+1) reduces the per-type "
    "rank sums. One fact hash agg + a per-day window over the "
    "~150-row daily summary. The rank-based complement to "
    "stats-anova-oneway when normality is off the table; "
    "continuous daily means make within-day ties measure-zero so "
    "rank() needs no tie correction.",
    tags=("stats",),
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.avg("value").alias("m"))
    complete = daily.groupBy("day").agg(F.count("*").alias("k")).filter(
        F.col("k") == 5
    ).select("day")
    ranked = daily.join(F.broadcast(complete), "day").select(
        "day",
        "event_type",
        F.rank()
        .over(Window.partitionBy("day").orderBy("m"))
        .cast("double")
        .alias("r"),
    )
    rsums = ranked.groupBy("event_type").agg(
        F.sum("r").alias("rj"), F.count("*").cast("double").alias("n")
    )
    n = F.max("n")
    k = F.count("*")
    return rsums.agg(
        n.cast("long").alias("n_days"),
        k.cast("long").alias("k_treatments"),
        F.round(
            12.0 / (n * k * (k + 1)) * F.sum(F.col("rj") * F.col("rj"))
            - 3 * n * (k + 1),
            6,
        ).alias("friedman_chi2"),
    )


@query(
    "stats-mcnemar",
    oracle="""
        WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        flags AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'purchase'
                            AND CAST(ts AS DATE)
                                BETWEEN d0 AND d0 + INTERVAL 6 DAY
                            THEN 1 ELSE 0 END) AS w1,
                   max(CASE WHEN event_type = 'purchase'
                            AND CAST(ts AS DATE)
                                BETWEEN d0 + INTERVAL 7 DAY
                                    AND d0 + INTERVAL 13 DAY
                            THEN 1 ELSE 0 END) AS w2
            FROM events, span GROUP BY user_id
        ),
        cells AS (
            SELECT CAST(sum(CASE WHEN w1 = 1 AND w2 = 0
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS b,
                   CAST(sum(CASE WHEN w1 = 0 AND w2 = 1
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS c,
                   CAST(count(*) AS BIGINT) AS n
            FROM flags
        )
        SELECT n AS n_users,
               CAST(b AS BIGINT) AS lost_purchasers,
               CAST(c AS BIGINT) AS gained_purchasers,
               round(power(abs(b - c) - 1, 2) / (b + c), 6)
                   AS mcnemar_chi2
        FROM cells WHERE b + c > 0
    """,
    doc="McNemar test for PAIRED proportion change: did the same "
    "users' purchase behavior flip between week 1 and week 2? "
    "Only the discordant cells matter — b (purchased then "
    "stopped) vs c (started purchasing) — and chi2 = "
    "(|b-c|-1)^2/(b+c) with the Edwards continuity correction. "
    "The unpaired stats-odds-ratio would be WRONG here (same "
    "users both periods); pairing happens for free in one "
    "conditional hash agg per user, then a single-row cell "
    "aggregation. The before/after launch readout when the "
    "population is fixed.",
    tags=("stats",),
)
def stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    evd = ev.crossJoin(F.broadcast(span)).select(
        "user_id",
        "event_type",
        F.to_date("ts").alias("day"),
        "d0",
    )
    purch = F.col("event_type") == "purchase"
    in_w1 = (F.col("day") >= F.col("d0")) & (
        F.col("day") <= F.date_add(F.col("d0"), 6)
    )
    in_w2 = (F.col("day") >= F.date_add(F.col("d0"), 7)) & (
        F.col("day") <= F.date_add(F.col("d0"), 13)
    )
    flags = evd.groupBy("user_id").agg(
        F.max(F.when(purch & in_w1, 1).otherwise(0)).alias("w1"),
        F.max(F.when(purch & in_w2, 1).otherwise(0)).alias("w2"),
    )
    cells = flags.agg(
        F.sum(F.when((F.col("w1") == 1) & (F.col("w2") == 0), 1).otherwise(0))
        .cast("double")
        .alias("b"),
        F.sum(F.when((F.col("w1") == 0) & (F.col("w2") == 1), 1).otherwise(0))
        .cast("double")
        .alias("c"),
        F.count("*").cast("long").alias("n"),
    )
    return cells.filter(F.col("b") + F.col("c") > 0).select(
        F.col("n").alias("n_users"),
        F.col("b").cast("long").alias("lost_purchasers"),
        F.col("c").cast("long").alias("gained_purchasers"),
        F.round(
            F.pow(F.abs(F.col("b") - F.col("c")) - 1, 2)
            / (F.col("b") + F.col("c")),
            6,
        ).alias("mcnemar_chi2"),
    )


@query(
    "stats-srm-check",
    oracle="""
        WITH assign AS (
            SELECT user_id,
                   (user_id * 2654435761 % 2147483648) % 2 AS variant
            FROM (SELECT DISTINCT user_id FROM events)
        ),
        counts AS (
            SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) AS n0,
                   CAST(sum(CASE WHEN variant <> 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) AS n1
            FROM assign
        )
        SELECT CAST(n0 AS BIGINT) AS variant_a,
               CAST(n1 AS BIGINT) AS variant_b,
               round(power(n0 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
                     + power(n1 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2), 6)
                   AS srm_chi2,
               (power(n0 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
                + power(n1 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2))
                   > 3.841459 AS srm_flag
        FROM counts
    """,
    doc="Sample-ratio-mismatch guard — the first thing every "
    "experimentation platform checks before reading ANY metric: "
    "users assigned 50/50 by an explicit portable Knuth "
    "multiplicative mix (user_id * 2654435761 mod 2^31, mod 2 — "
    "spelled out rather than relying on either engine's builtin "
    "hash, which differ bit-for-bit), then a 1-dof chi-square of "
    "the observed split against exact 50/50, flagged past the "
    "3.84 alpha=5% critical value. A failed SRM invalidates the "
    "whole experiment regardless of metric lift. One distinct-"
    "user hash agg + one conditional count — two scans of "
    "nothing but user_id.",
    tags=("stats",),
)
def stats_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    variant = (F.col("user_id") * 2654435761 % 2147483648) % 2
    assign = ev.select("user_id").distinct().select(variant.alias("variant"))
    counts = assign.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("double")
        .alias("n0"),
        F.sum(F.when(F.col("variant") != 0, 1).otherwise(0))
        .cast("double")
        .alias("n1"),
    )
    exp = (F.col("n0") + F.col("n1")) / 2
    chi2 = F.pow(F.col("n0") - exp, 2) / exp + F.pow(F.col("n1") - exp, 2) / exp
    return counts.select(
        F.col("n0").cast("long").alias("variant_a"),
        F.col("n1").cast("long").alias("variant_b"),
        F.round(chi2, 6).alias("srm_chi2"),
        (chi2 > 3.841459).alias("srm_flag"),
    )


@query(
    "stats-sprt-monitor",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS x,
                   CAST(count(*) AS DOUBLE) AS n
            FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
        ),
        llr AS (
            SELECT day,
                   x * ln(0.22 / 0.20) + (n - x) * ln(0.78 / 0.80)
                       AS llr_day
            FROM daily
        ),
        walk AS (
            SELECT day,
                   sum(llr_day) OVER (ORDER BY day) AS llr_cum
            FROM llr
        )
        SELECT day, round(llr_cum, 6) AS llr_cum,
               CASE WHEN llr_cum >= ln((1 - 0.2) / 0.05) THEN 'accept_h1'
                    WHEN llr_cum <= ln(0.2 / (1 - 0.05)) THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM walk ORDER BY day
    """,
    doc="Sequential probability ratio test (Wald SPRT) monitoring the "
    "daily purchase rate against H0: p=0.20 vs H1: p=0.22 "
    "(alpha=5%, beta=20%): each day contributes a binomial "
    "log-likelihood-ratio increment x*ln(p1/p0) + "
    "(n-x)*ln((1-p1)/(1-p0)); the cumulative LLR random walk "
    "(one window over the daily summary) crosses ln((1-b)/a) to "
    "accept H1 or ln(b/(1-a)) to accept H0 — the always-valid "
    "peeking-safe alternative to fixed-horizon tests. Facts "
    "collapse in one conditional hash agg; the decision sequence "
    "is the whole output so the parity check pins every "
    "intermediate state of the walk, not just the verdict.",
    tags=("stats", "timeseries"),
)
def stats_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("x"),
        F.count("*").cast("double").alias("n"),
    )
    llr_day = F.col("x") * math.log(0.22 / 0.20) + (
        F.col("n") - F.col("x")
    ) * math.log(0.78 / 0.80)
    walk = daily.select(
        "day",
        F.sum(llr_day)
        .over(
            Window.orderBy("day").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("llr_cum"),
    )
    hi = math.log((1 - 0.2) / 0.05)
    lo = math.log(0.2 / (1 - 0.05))
    return walk.select(
        "day",
        F.round("llr_cum", 6).alias("llr_cum"),
        F.when(F.col("llr_cum") >= hi, "accept_h1")
        .when(F.col("llr_cum") <= lo, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("day")


@query(
    "stats-sign-test",
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
        s AS (
            SELECT CAST(sum(CASE WHEN x > y THEN 1 ELSE 0 END) AS DOUBLE)
                       AS plus,
                   CAST(sum(CASE WHEN x < y THEN 1 ELSE 0 END) AS DOUBLE)
                       AS minus
            FROM daily
        )
        SELECT CAST(plus AS BIGINT) AS days_click_higher,
               CAST(minus AS BIGINT) AS days_view_higher,
               round((plus - (plus + minus) / 2)
                     / sqrt((plus + minus) / 4), 6) AS sign_z
        FROM s
    """,
    doc="Paired sign test: on how many days does the click mean exceed "
    "the view mean, z-scored against the fair-coin null "
    "(median difference = 0)? The assumption-free-est paired test "
    "there is — no normality, no symmetry, just exchangeability — "
    "and the right first look when stats-welch-ttest's variance "
    "assumptions are suspect. Pairing by day happens in the one "
    "conditional daily hash agg (complete days only, ties drop "
    "out as neither plus nor minus); the binomial z is algebra on "
    "a 1-row summary. Wilcoxon signed-rank is the power upgrade "
    "— rank over the same ~30-row summary if needed.",
    tags=("stats",),
)
def stats_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    s = daily.agg(
        F.sum(F.when(F.col("x") > F.col("y"), 1).otherwise(0))
        .cast("double")
        .alias("plus"),
        F.sum(F.when(F.col("x") < F.col("y"), 1).otherwise(0))
        .cast("double")
        .alias("minus"),
    )
    plus, minus = F.col("plus"), F.col("minus")
    return s.select(
        plus.cast("long").alias("days_click_higher"),
        minus.cast("long").alias("days_view_higher"),
        F.round(
            (plus - (plus + minus) / 2) / F.sqrt((plus + minus) / 4), 6
        ).alias("sign_z"),
    )


@query(
    "stats-cochran-q",
    oracle="""
        WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        flags AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'purchase' AND
                            CAST(ts AS DATE) BETWEEN d0 AND
                                d0 + INTERVAL 6 DAY
                            THEN 1 ELSE 0 END) AS w1,
                   max(CASE WHEN event_type = 'purchase' AND
                            CAST(ts AS DATE) BETWEEN d0 + INTERVAL 7 DAY
                                AND d0 + INTERVAL 13 DAY
                            THEN 1 ELSE 0 END) AS w2,
                   max(CASE WHEN event_type = 'purchase' AND
                            CAST(ts AS DATE) BETWEEN d0 + INTERVAL 14 DAY
                                AND d0 + INTERVAL 20 DAY
                            THEN 1 ELSE 0 END) AS w3
            FROM events, span GROUP BY user_id
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(w1) AS DOUBLE) AS c1,
                   CAST(sum(w2) AS DOUBLE) AS c2,
                   CAST(sum(w3) AS DOUBLE) AS c3,
                   CAST(sum(w1 + w2 + w3) AS DOUBLE) AS sr,
                   CAST(sum(power(w1 + w2 + w3, 2)) AS DOUBLE) AS sr2
            FROM flags
        )
        SELECT n AS n_users,
               CAST(c1 AS BIGINT) AS week1_purchasers,
               CAST(c2 AS BIGINT) AS week2_purchasers,
               CAST(c3 AS BIGINT) AS week3_purchasers,
               round(3 * 2 * (power(c1 - sr / 3, 2) + power(c2 - sr / 3, 2)
                              + power(c3 - sr / 3, 2))
                     / (3 * sr - sr2), 6) AS cochran_q
        FROM s
    """,
    doc="Cochran's Q test — the k-treatment generalization of "
    "stats-mcnemar: did the same users' weekly purchase incidence "
    "change across three weeks? Q = k(k-1) * sum_j(C_j - "
    "Cbar)^2 / (k*sum(R_i) - sum(R_i^2)) ~ chi2(k-1), where "
    "column totals C_j and per-user row totals R_i both fall out "
    "of ONE conditional per-user aggregation (the paired "
    "structure — each user is their own control — costs nothing "
    "extra in the plan). Under k=2 this algebraically reduces to "
    "McNemar without the continuity correction; the parity check "
    "pins all the intermediate column totals so a regression in "
    "the window logic can't hide in the final scalar.",
    tags=("stats",),
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    evd = ev.crossJoin(F.broadcast(span)).select(
        "user_id", "event_type", F.to_date("ts").alias("day"), "d0"
    )
    purch = F.col("event_type") == "purchase"

    def wk(lo: int, hi: int):
        return F.max(
            F.when(
                purch
                & (F.col("day") >= F.date_add(F.col("d0"), lo))
                & (F.col("day") <= F.date_add(F.col("d0"), hi)),
                1,
            ).otherwise(0)
        )

    flags = evd.groupBy("user_id").agg(
        wk(0, 6).alias("w1"), wk(7, 13).alias("w2"), wk(14, 20).alias("w3")
    )
    r = F.col("w1") + F.col("w2") + F.col("w3")
    s = flags.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("w1").cast("double").alias("c1"),
        F.sum("w2").cast("double").alias("c2"),
        F.sum("w3").cast("double").alias("c3"),
        F.sum(r).cast("double").alias("sr"),
        F.sum(F.pow(r, 2)).cast("double").alias("sr2"),
    )
    c1, c2, c3 = F.col("c1"), F.col("c2"), F.col("c3")
    sr, sr2 = F.col("sr"), F.col("sr2")
    cbar = sr / 3
    q = (
        3
        * 2
        * (F.pow(c1 - cbar, 2) + F.pow(c2 - cbar, 2) + F.pow(c3 - cbar, 2))
        / (3 * sr - sr2)
    )
    return s.select(
        F.col("n").alias("n_users"),
        c1.cast("long").alias("week1_purchasers"),
        c2.cast("long").alias("week2_purchasers"),
        c3.cast("long").alias("week3_purchasers"),
        F.round(q, 6).alias("cochran_q"),
    )


@query(
    "stats-wilcoxon-signed-rank",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   avg(CASE WHEN event_type = 'click' THEN value END)
                   - avg(CASE WHEN event_type = 'view' THEN value END)
                       AS d
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY CAST(ts AS DATE)
            HAVING count(CASE WHEN event_type = 'click' THEN 1 END) > 0
               AND count(CASE WHEN event_type = 'view' THEN 1 END) > 0
        ),
        ranked AS (
            SELECT d,
                   CAST(row_number() OVER (ORDER BY abs(d), day)
                        AS DOUBLE) AS r
            FROM daily WHERE d <> 0
        ),
        s AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   sum(CASE WHEN d > 0 THEN r ELSE 0 END) AS w_plus
            FROM ranked
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(w_plus, 2) AS w_plus,
               round((w_plus - n * (n + 1) / 4)
                     / sqrt(n * (n + 1) * (2 * n + 1) / 24), 6)
                   AS wilcoxon_z
        FROM s
    """,
    doc="Wilcoxon signed-rank test on daily click-minus-view mean "
    "differences: |d| is ranked (over the ~30-row daily summary "
    "ONLY — rank the aggregate, the house discipline), W+ sums "
    "the ranks of positive differences, and the normal "
    "approximation z = (W+ - n(n+1)/4)/sqrt(n(n+1)(2n+1)/24) "
    "judges symmetry around zero. Strictly more powerful than "
    "stats-sign-test (which ignores magnitudes) while still "
    "normality-free — the standard escalation path when a paired "
    "design needs more sensitivity. Zero differences drop per "
    "the classic treatment; continuous daily means make "
    "|d|-ties measure-zero, so the deterministic (|d|, day) "
    "tie-break changes nothing statistically but keeps both "
    "engines bit-identical.",
    tags=("stats",),
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    click = F.when(F.col("event_type") == "click", F.col("value"))
    view = F.when(F.col("event_type") == "view", F.col("value"))
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            (F.avg(click) - F.avg(view)).alias("d"),
            F.count(click).alias("nx"),
            F.count(view).alias("ny"),
        )
        .filter((F.col("nx") > 0) & (F.col("ny") > 0))
    )
    ranked = daily.filter(F.col("d") != 0).select(
        "d",
        F.row_number()
        .over(Window.orderBy(F.abs("d"), "day"))
        .cast("double")
        .alias("r"),
    )
    s = ranked.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("r")).otherwise(0.0)).alias(
            "w_plus"
        ),
    )
    n, wp = F.col("n"), F.col("w_plus")
    return s.select(
        n.cast("long").alias("n_days"),
        F.round(wp, 2).alias("w_plus"),
        F.round(
            (wp - n * (n + 1) / 4)
            / F.sqrt(n * (n + 1) * (2 * n + 1) / 24),
            6,
        ).alias("wilcoxon_z"),
    )


@query(
    "stats-holm-bonferroni",
    oracle="""
        WITH grand AS (
            SELECT avg(value) AS gm, var_samp(value) AS gv FROM events
        ),
        g AS (
            SELECT event_type, count(*) AS n, avg(value) AS m
            FROM events GROUP BY event_type
        ),
        tests AS (
            SELECT event_type,
                   exp(-power(abs(m - gm) / sqrt(gv / n), 2) / 2) AS p
            FROM g, grand
        ),
        ranked AS (
            SELECT event_type, p,
                   row_number() OVER (ORDER BY p, event_type) AS k,
                   count(*) OVER () AS m_tests
            FROM tests
        ),
        flagged AS (
            SELECT *,
                   min(CASE WHEN p > 0.05 / (m_tests - k + 1)
                            THEN k ELSE m_tests + 1 END)
                       OVER () AS first_fail
            FROM ranked
        )
        SELECT event_type, round(p, 6) AS p,
               CAST(k AS BIGINT) AS k,
               round(0.05 / (m_tests - k + 1), 6) AS holm_threshold,
               k < first_fail AS rejected
        FROM flagged ORDER BY k
    """,
    doc="Holm-Bonferroni step-DOWN multiple-testing correction over "
    "the same per-segment test family as stats-benjamini-hochberg "
    "(deliberately paired: BH steps UP controlling FDR, Holm "
    "steps DOWN controlling family-wise error — strictly fewer "
    "rejections, zero false-positive tolerance): sort p "
    "ascending, compare p_(k) to alpha/(m-k+1), reject "
    "everything BEFORE the first failure (a min over the ranked "
    "summary — once one test fails, all later ones fail by "
    "construction). Same one-fact-pass shape: the whole "
    "correction runs on the 5-row test summary.",
    tags=("stats",),
)
def stats_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    grand = ev.agg(
        F.avg("value").alias("gm"), F.var_samp("value").alias("gv")
    )
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.avg("value").alias("m")
    )
    z = F.abs(F.col("m") - F.col("gm")) / F.sqrt(F.col("gv") / F.col("n"))
    tests = g.crossJoin(F.broadcast(grand)).select(
        "event_type", F.exp(-F.pow(z, 2) / 2).alias("p")
    )
    w_all = Window.partitionBy()
    ranked = tests.select(
        "event_type",
        "p",
        F.row_number().over(Window.orderBy("p", "event_type")).alias("k"),
        F.count("*").over(w_all).alias("m_tests"),
    )
    thresh = 0.05 / (F.col("m_tests") - F.col("k") + 1)
    first_fail = ranked.withColumn(
        "fail_k",
        F.when(F.col("p") > thresh, F.col("k")).otherwise(
            F.col("m_tests") + 1
        ),
    ).withColumn("first_fail", F.min("fail_k").over(w_all))
    return first_fail.select(
        "event_type",
        F.round("p", 6).alias("p"),
        F.col("k").cast("long").alias("k"),
        F.round(thresh, 6).alias("holm_threshold"),
        (F.col("k") < F.col("first_fail")).alias("rejected"),
    ).orderBy("k")


@query(
    "stats-tost-equivalence",
    oracle="""
        WITH g AS (
            SELECT count(CASE WHEN event_type = 'click' THEN value END)
                       AS n1,
                   count(CASE WHEN event_type = 'view' THEN value END)
                       AS n2,
                   avg(CASE WHEN event_type = 'click' THEN value END) AS m1,
                   avg(CASE WHEN event_type = 'view' THEN value END) AS m2,
                   var_samp(CASE WHEN event_type = 'click' THEN value END)
                       AS v1,
                   var_samp(CASE WHEN event_type = 'view' THEN value END)
                       AS v2
            FROM events WHERE event_type IN ('click', 'view')
        )
        SELECT round(m1 - m2, 6) AS mean_diff,
               round((m1 - m2 + 5.0) / sqrt(v1 / n1 + v2 / n2), 6)
                   AS t_lower,
               round((m1 - m2 - 5.0) / sqrt(v1 / n1 + v2 / n2), 6)
                   AS t_upper,
               ((m1 - m2 + 5.0) / sqrt(v1 / n1 + v2 / n2) > 1.644854
                AND (m1 - m2 - 5.0) / sqrt(v1 / n1 + v2 / n2) < -1.644854)
                   AS equivalent
        FROM g
    """,
    doc="TOST equivalence test (two one-sided tests, margin +/-5.0): "
    "rejects BOTH 'diff <= -delta' AND 'diff >= +delta' to "
    "positively conclude the click and view means are "
    "equivalent — the statistically honest way to claim 'no "
    "difference', which a non-significant Welch t (stats-welch-"
    "ttest on the same summary) can never do. Both one-sided t "
    "statistics come from the IDENTICAL single conditional-"
    "aggregate scan; the 1.645 threshold is the one-sided "
    "alpha=5% normal quantile literal. The do-no-harm launch "
    "gate: ship when equivalent=true, not when p>0.05.",
    tags=("stats",),
)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    click = F.when(F.col("event_type") == "click", F.col("value"))
    view = F.when(F.col("event_type") == "view", F.col("value"))
    g = ev.agg(
        F.count(click).alias("n1"),
        F.count(view).alias("n2"),
        F.avg(click).alias("m1"),
        F.avg(view).alias("m2"),
        F.var_samp(click).alias("v1"),
        F.var_samp(view).alias("v2"),
    )
    se = F.sqrt(F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2"))
    diff = F.col("m1") - F.col("m2")
    t_lo = (diff + 5.0) / se
    t_hi = (diff - 5.0) / se
    return g.select(
        F.round(diff, 6).alias("mean_diff"),
        F.round(t_lo, 6).alias("t_lower"),
        F.round(t_hi, 6).alias("t_upper"),
        ((t_lo > 1.644854) & (t_hi < -1.644854)).alias("equivalent"),
    )


@query(
    "stats-cuped-adjustment",
    oracle="""
        WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        per_user AS (
            SELECT user_id,
                   avg(CASE WHEN CAST(ts AS DATE) < d0 + INTERVAL 14 DAY
                            THEN value END) AS x_pre,
                   avg(CASE WHEN CAST(ts AS DATE) >= d0 + INTERVAL 14 DAY
                            THEN value END) AS y_post
            FROM events, span GROUP BY user_id
        ),
        cc AS (
            SELECT x_pre, y_post FROM per_user
            WHERE x_pre IS NOT NULL AND y_post IS NOT NULL
        ),
        m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   covar_samp(y_post, x_pre) / var_samp(x_pre) AS theta,
                   var_samp(y_post) AS vy,
                   power(corr(y_post, x_pre), 2) AS rho2
            FROM cc
        )
        SELECT n AS n_users,
               round(theta, 6) AS theta,
               round(vy, 6) AS var_raw,
               round(vy * (1 - rho2), 6) AS var_cuped,
               round(rho2, 6) AS variance_reduction
        FROM m
    """,
    doc="CUPED (controlled-experiment using pre-experiment data) "
    "variance reduction: each user's pre-period mean value is the "
    "covariate, theta = cov(Y,X)/var(X) is the optimal adjustment "
    "coefficient, and the adjusted metric Y - theta*(X - mean(X)) "
    "has variance var(Y)*(1 - rho^2) — every percentage point of "
    "rho^2 is experiment runtime you don't need. The single most "
    "valuable trick in large-scale experimentation, and it is "
    "ONE conditional per-user aggregation plus ONE moment "
    "aggregation (cov/var/corr accumulate together, map-side "
    "combinable) — complete-case users only, since first-session "
    "users have no pre-period. Pairs with stats-delta-method-ci "
    "(ratio metrics) and stats-srm-check (validity) as the "
    "experimentation readout stack.",
    tags=("stats",),
)
def stats_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    cutoff = F.date_add(F.col("d0"), 14)
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.avg(
                F.when(F.to_date("ts") < cutoff, F.col("value"))
            ).alias("x_pre"),
            F.avg(
                F.when(F.to_date("ts") >= cutoff, F.col("value"))
            ).alias("y_post"),
        )
    )
    cc = per_user.filter(
        F.col("x_pre").isNotNull() & F.col("y_post").isNotNull()
    )
    m = cc.agg(
        F.count("*").cast("long").alias("n"),
        (
            F.covar_samp("y_post", "x_pre") / F.var_samp("x_pre")
        ).alias("theta"),
        F.var_samp("y_post").alias("vy"),
        F.pow(F.corr("y_post", "x_pre"), 2).alias("rho2"),
    )
    return m.select(
        F.col("n").alias("n_users"),
        F.round("theta", 6).alias("theta"),
        F.round("vy", 6).alias("var_raw"),
        F.round(F.col("vy") * (1 - F.col("rho2")), 6).alias("var_cuped"),
        F.round("rho2", 6).alias("variance_reduction"),
    )


@query(
    "stats-meta-analysis",
    oracle="""
        WITH seg AS (
            SELECT (isodow(CAST(ts AS DATE)) - 1) % 7 AS dow,
                   count(CASE WHEN event_type = 'click' THEN value END)
                       AS n1,
                   count(CASE WHEN event_type = 'view' THEN value END)
                       AS n2,
                   avg(CASE WHEN event_type = 'click' THEN value END) AS m1,
                   avg(CASE WHEN event_type = 'view' THEN value END) AS m2,
                   var_samp(CASE WHEN event_type = 'click' THEN value END)
                       AS v1,
                   var_samp(CASE WHEN event_type = 'view' THEN value END)
                       AS v2
            FROM events WHERE event_type IN ('click', 'view')
              AND ts IS NOT NULL
            GROUP BY 1
        ),
        effects AS (
            SELECT dow, m1 - m2 AS d,
                   v1 / n1 + v2 / n2 AS var_d
            FROM seg WHERE n1 > 1 AND n2 > 1
        ),
        pooled AS (
            SELECT CAST(count(*) AS BIGINT) AS k,
                   sum(d / var_d) / sum(1 / var_d) AS d_pooled,
                   1 / sum(1 / var_d) AS var_pooled,
                   sum(power(d, 2) / var_d)
                   - power(sum(d / var_d), 2) / sum(1 / var_d) AS q
            FROM effects
        )
        SELECT k AS n_strata,
               round(d_pooled, 6) AS pooled_effect,
               round(sqrt(var_pooled), 6) AS pooled_se,
               round(q, 6) AS cochran_q_het,
               round(greatest(0, (q - (k - 1)) / q), 6) AS i_squared
        FROM pooled
    """,
    doc="Fixed-effect (inverse-variance) meta-analysis pooling the "
    "click-vs-view mean difference across day-of-week strata: "
    "pooled effect = sum(d_i/v_i)/sum(1/v_i), its SE, Cochran's Q "
    "heterogeneity statistic, and I^2 = (Q-(k-1))/Q — the fraction "
    "of between-stratum variance that is real signal rather than "
    "noise (high I^2 says one pooled number is hiding "
    "effect-modification and a random-effects model or per-"
    "stratum report is owed). ONE conditional hash agg builds "
    "every stratum's moments; the pooling identities, including "
    "Q in its computational one-pass form, reduce the 7-row "
    "summary. The pattern for combining per-region/per-platform "
    "experiment readouts at fleet scale.",
    tags=("stats",),
)
def stats_meta_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).filter(
        F.col("event_type").isin("click", "view")
    )
    click = F.when(F.col("event_type") == "click", F.col("value"))
    view = F.when(F.col("event_type") == "view", F.col("value"))
    seg = ev.groupBy(F.weekday(F.to_date("ts")).alias("dow")).agg(
        F.count(click).alias("n1"),
        F.count(view).alias("n2"),
        F.avg(click).alias("m1"),
        F.avg(view).alias("m2"),
        F.var_samp(click).alias("v1"),
        F.var_samp(view).alias("v2"),
    )
    effects = seg.filter((F.col("n1") > 1) & (F.col("n2") > 1)).select(
        (F.col("m1") - F.col("m2")).alias("d"),
        (F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")).alias(
            "var_d"
        ),
    )
    k = F.count("*")
    w_sum = F.sum(1 / F.col("var_d"))
    dw_sum = F.sum(F.col("d") / F.col("var_d"))
    q = F.sum(F.pow(F.col("d"), 2) / F.col("var_d")) - F.pow(dw_sum, 2) / w_sum
    pooled = effects.agg(
        k.cast("long").alias("k"),
        (dw_sum / w_sum).alias("d_pooled"),
        (1 / w_sum).alias("var_pooled"),
        q.alias("q"),
    )
    return pooled.select(
        F.col("k").alias("n_strata"),
        F.round("d_pooled", 6).alias("pooled_effect"),
        F.round(F.sqrt("var_pooled"), 6).alias("pooled_se"),
        F.round("q", 6).alias("cochran_q_het"),
        F.round(
            F.greatest(
                F.lit(0.0), (F.col("q") - (F.col("k") - 1)) / F.col("q")
            ),
            6,
        ).alias("i_squared"),
    )


@query(
    "stats-cmh-pooled-or",
    oracle="""
        WITH counts AS (
            SELECT user_id,
                   sum(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS k
            FROM events GROUP BY user_id
        ),
        thr AS (SELECT avg(k) AS kbar FROM counts),
        strata AS (
            SELECT user_id,
                   CAST(user_id % 5 AS BIGINT) AS stratum,
                   user_id % 2 = 0 AS treated,
                   CASE WHEN k > kbar THEN 1 ELSE 0 END AS converted
            FROM counts, thr
        ),
        cells AS (
            SELECT stratum,
                   CAST(sum(CASE WHEN treated AND converted = 1
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS a,
                   CAST(sum(CASE WHEN treated AND converted = 0
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS b,
                   CAST(sum(CASE WHEN NOT treated AND converted = 1
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS c,
                   CAST(sum(CASE WHEN NOT treated AND converted = 0
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS d,
                   CAST(count(*) AS DOUBLE) AS n
            FROM strata GROUP BY stratum
        )
        SELECT CAST(count(*) AS BIGINT) AS n_strata,
               round(sum(a * d / n) / sum(b * c / n), 6) AS cmh_odds_ratio,
               round(sum(a), 0) AS treated_converters,
               round(sum(c), 0) AS control_converters
        FROM cells
    """,
    doc="Cochran-Mantel-Haenszel pooled odds ratio: the treatment-vs-"
    "conversion odds ratio POOLED ACROSS STRATA as OR_cmh = "
    "sum(a_i*d_i/n_i) / sum(b_i*c_i/n_i) — the confounder-"
    "adjusted upgrade of stats-odds-ratio (a crude 2x2 collapsed "
    "over heterogeneous strata can reverse sign: Simpson's "
    "paradox; CMH can't). Converted = above-average purchase count (a median-split-style "
    "outcome that stays non-degenerate at every SF); strata are "
    "deterministic user buckets standing in for the covariate bands a real analysis "
    "would stratify on. One per-user conditional agg, one "
    "per-stratum cell agg (5x4 summary), one pooling reduce — "
    "the entire adjusted analysis is three map-side-combinable "
    "aggregations.",
    tags=("stats",),
)
def stats_cmh_pooled_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("k")
    )
    thr = counts.agg(F.avg("k").alias("kbar"))
    strata = counts.crossJoin(F.broadcast(thr)).select(
        (F.col("user_id") % 5).cast("long").alias("stratum"),
        (F.col("user_id") % 2 == 0).alias("treated"),
        F.when(F.col("k") > F.col("kbar"), 1).otherwise(0).alias("converted"),
    )
    t, cv = F.col("treated"), F.col("converted")
    cells = strata.groupBy("stratum").agg(
        F.sum(F.when(t & (cv == 1), 1).otherwise(0)).cast("double").alias("a"),
        F.sum(F.when(t & (cv == 0), 1).otherwise(0)).cast("double").alias("b"),
        F.sum(F.when(~t & (cv == 1), 1).otherwise(0)).cast("double").alias("c"),
        F.sum(F.when(~t & (cv == 0), 1).otherwise(0)).cast("double").alias("d"),
        F.count("*").cast("double").alias("n"),
    )
    return cells.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.round(
            F.sum(F.col("a") * F.col("d") / F.col("n"))
            / F.sum(F.col("b") * F.col("c") / F.col("n")),
            6,
        ).alias("cmh_odds_ratio"),
        F.round(F.sum("a"), 0).alias("treated_converters"),
        F.round(F.sum("c"), 0).alias("control_converters"),
    )


@query(
    "stats-var-backtest",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   sum(o_totalprice) AS rev
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        rets AS (
            -- log return defined only for positive rev on BOTH days:
            -- hostile negated/zeroed totals would make DuckDB's ln()
            -- hard-error while Spark silently NULLs — pin the exclusion
            SELECT day,
                   CASE WHEN rev > 0
                             AND lag(rev) OVER (ORDER BY day) > 0
                        THEN ln(rev / lag(rev) OVER (ORDER BY day)) END AS r
            FROM daily
        ),
        var_ AS (
            SELECT quantile_cont(r, 0.05) AS var05 FROM rets
            WHERE r IS NOT NULL
        ),
        viol AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(CASE WHEN r < var05 THEN 1 ELSE 0 END)
                        AS DOUBLE) AS x
            FROM rets, var_ WHERE r IS NOT NULL
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               CAST(x AS BIGINT) AS n_violations,
               round(x / n, 6) AS violation_rate,
               round(-2 * ((n - x) * ln(0.95) + x * ln(0.05)
                           - (n - x) * ln(1 - x / n) - x * ln(x / n)),
                     6) AS kupiec_lr
        FROM viol WHERE x > 0 AND x < n
    """,
    doc="Value-at-Risk backtest on daily revenue log-changes: the "
    "empirical 5% VaR (exact interpolated quantile; the t-digest "
    "sketch at 100 TB), violation counting, and the Kupiec "
    "proportion-of-failures likelihood ratio -2*ln[L(p0)/L(p-"
    "hat)] ~ chi2(1) — does the model's claimed 5% tail actually "
    "fire 5% of the time? In-sample here (the quantile and the "
    "violations share the window) which biases the LR low; the "
    "production variant computes VaR on a trailing window and "
    "tests out-of-sample — same plan plus one lag. The "
    "risk-engine counterpart of stats-calibration-curve: both "
    "ask 'are your claimed probabilities real'.",
    tags=("stats", "timeseries"),
)
def stats_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    # positive-domain guard on both days' revenue (see oracle comment)
    prev = F.lag("rev").over(Window.orderBy("day"))
    rets = daily.select(
        "day",
        F.when(
            (F.col("rev") > 0) & (prev > 0), F.log(F.col("rev") / prev)
        ).alias("r"),
    ).filter(F.col("r").isNotNull())
    var_ = rets.agg(F.expr("percentile(r, 0.05)").alias("var05"))
    viol = rets.crossJoin(F.broadcast(var_)).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.when(F.col("r") < F.col("var05"), 1).otherwise(0))
        .cast("double")
        .alias("x"),
    )
    n, x = F.col("n"), F.col("x")
    import math

    lr = -2 * (
        (n - x) * math.log(0.95)
        + x * math.log(0.05)
        - (n - x) * F.log(1 - x / n)
        - x * F.log(x / n)
    )
    return viol.filter((x > 0) & (x < n)).select(
        n.cast("long").alias("n_days"),
        x.cast("long").alias("n_violations"),
        F.round(x / n, 6).alias("violation_rate"),
        F.round(lr, 6).alias("kupiec_lr"),
    )


@query(
    "stats-kendall-tau",
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
        pairs AS (
            SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1
                        ELSE 0 END AS concordant,
                   CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1
                        ELSE 0 END AS discordant
            FROM daily a JOIN daily b ON a.day < b.day
        )
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(concordant) AS BIGINT) AS concordant,
               CAST(sum(discordant) AS BIGINT) AS discordant,
               round(CAST(sum(concordant) - sum(discordant) AS DOUBLE)
                     / count(*), 6) AS kendall_tau
        FROM pairs
    """,
    doc="Kendall's tau rank correlation between daily click and view "
    "mean values: concordant-minus-discordant pair fraction over "
    "all C(n,2) day pairs. The O(n^2) pair join runs on the "
    "~30-ROW DAILY SUMMARY (the Theil-Sen discipline — quadratic "
    "in the summary, linear in the facts; for raw-row tau at "
    "scale you'd use the O(n log n) merge-sort inversion count "
    "instead). Continuous daily means make ties measure-zero so "
    "tau-a == tau-b here. Completes the correlation triple with "
    "stats-spearman-corr (rank-linear) and agg-corr-matrix "
    "(Pearson): tau's pairwise-agreement semantics is the most "
    "robust of the three to outliers and the natural one for "
    "agreement-between-rankings questions.",
    tags=("stats",),
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .select("day", "x", "y")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    prod = (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))
    pairs = a.join(b, F.col("a.day") < F.col("b.day")).select(
        F.when(prod > 0, 1).otherwise(0).alias("concordant"),
        F.when(prod < 0, 1).otherwise(0).alias("discordant"),
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("concordant").cast("long").alias("concordant"),
        F.sum("discordant").cast("long").alias("discordant"),
        F.round(
            (F.sum("concordant") - F.sum("discordant")).cast("double")
            / F.count("*"),
            6,
        ).alias("kendall_tau"),
    )


@query(
    "stats-runs-median",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        med AS (SELECT quantile_cont(x, 0.5) AS md FROM daily),
        side AS (
            SELECT day, CASE WHEN x > md THEN 1
                             WHEN x < md THEN 0 END AS above
            FROM daily, med
        ),
        runs AS (
            SELECT above,
                   CASE WHEN lag(above) OVER (ORDER BY day) IS NULL
                             OR above <> lag(above) OVER (ORDER BY day)
                        THEN 1 ELSE 0 END AS new_run
            FROM side WHERE above IS NOT NULL
        ),
        s AS (
            SELECT CAST(sum(above) AS DOUBLE) AS n1,
                   CAST(sum(1 - above) AS DOUBLE) AS n2,
                   CAST(sum(new_run) AS DOUBLE) AS r
            FROM runs
        )
        SELECT CAST(n1 AS BIGINT) AS n_above,
               CAST(n2 AS BIGINT) AS n_below,
               CAST(r AS BIGINT) AS n_runs,
               round((r - (2 * n1 * n2 / (n1 + n2) + 1))
                     / sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                            / (power(n1 + n2, 2) * (n1 + n2 - 1))), 6)
                   AS z
        FROM s
    """,
    doc="Runs-above-median test: dichotomize the daily series at its "
    "median and count runs of consecutive same-side days — the "
    "LEVEL-persistence complement to stats-runs-test (which "
    "dichotomizes day-over-day CHANGES): a slow sinusoid passes "
    "the up/down runs test but fails this one, because its "
    "level stays above median for long stretches. Same "
    "E[R] = 2*n1*n2/(n1+n2)+1 null machinery; median from an "
    "exact interpolated percentile over the daily summary; "
    "exactly-median days drop as neither side. One fact hash "
    "agg, everything else windows over ~30 rows.",
    tags=("stats", "timeseries"),
)
def stats_runs_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("double").alias("x")
    )
    med = daily.agg(F.expr("percentile(x, 0.5)").alias("md"))
    side = daily.crossJoin(F.broadcast(med)).select(
        "day",
        F.when(F.col("x") > F.col("md"), 1)
        .when(F.col("x") < F.col("md"), 0)
        .alias("above"),
    ).filter(F.col("above").isNotNull())
    w = Window.orderBy("day")
    runs = side.select(
        "above",
        F.when(
            F.lag("above").over(w).isNull()
            | (F.col("above") != F.lag("above").over(w)),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    s = runs.agg(
        F.sum("above").cast("double").alias("n1"),
        F.sum(1 - F.col("above")).cast("double").alias("n2"),
        F.sum("new_run").cast("double").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    er = 2 * n1 * n2 / (n1 + n2) + 1
    vr = (
        2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        / (F.pow(n1 + n2, 2) * (n1 + n2 - 1))
    )
    return s.select(
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        r.cast("long").alias("n_runs"),
        F.round((r - er) / F.sqrt(vr), 6).alias("z"),
    )


@query(
    "stats-kruskal-wallis",
    oracle="""
        WITH daily AS (
            -- a rank test has no place for missing observations: NULL-ts
            -- rows have no day, and an all-NULL day has no mean — both
            -- excluded explicitly (Spark ranks NULLs FIRST, DuckDB LAST,
            -- so an unpinned NULL m shifts every rank; gauntlet catch)
            SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS m
            FROM events WHERE ts IS NOT NULL
            GROUP BY event_type, CAST(ts AS DATE)
        ),
        ranked AS (
            SELECT event_type,
                   CAST(row_number() OVER (ORDER BY m, event_type, day)
                        AS DOUBLE) AS r
            FROM daily WHERE m IS NOT NULL
        ),
        per_group AS (
            SELECT event_type, count(*) AS ni, sum(r) AS ri
            FROM ranked GROUP BY event_type
        )
        SELECT CAST(count(*) AS BIGINT) AS k_groups,
               CAST(sum(ni) AS BIGINT) AS n_total,
               CAST(count(*) - 1 AS BIGINT) AS dof,
               round(12.0 / (sum(ni) * (sum(ni) + 1.0))
                     * sum(ri * ri / ni) - 3 * (sum(ni) + 1.0), 6) AS h_stat,
               round((12.0 / (sum(ni) * (sum(ni) + 1.0))
                      * sum(ri * ri / ni) - 3 * (sum(ni) + 1.0)
                      - count(*) + 1) / (sum(ni) - count(*)), 6)
                   AS epsilon_sq
        FROM per_group
    """,
    doc="Kruskal-Wallis H test across ALL event types (the k-group "
    "generalization of stats-mann-whitney): daily mean values per "
    "(type, day) come from ONE hash aggregation over the fact table; "
    "ranking then runs over the summary (~5 types x ~60 days), never "
    "the raw events. H = 12/(N(N+1)) * sum(R_i^2/n_i) - 3(N+1) and "
    "epsilon-squared effect size (H - k + 1)/(N - k). Deterministic "
    "(m, type, day) rank order keeps both engines bit-identical; "
    "continuous daily means make ties measure-zero so the tie "
    "correction is deliberately omitted (same contract as "
    "stats-mann-whitney).",
    tags=("stats",),
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("m")
    )
    # missing observations are out of a rank test (see oracle comment)
    ranked = daily.filter(F.col("m").isNotNull()).select(
        "event_type",
        F.row_number()
        .over(Window.orderBy("m", "event_type", "day"))
        .cast("double")
        .alias("r"),
    )
    per_group = ranked.groupBy("event_type").agg(
        F.count("*").alias("ni"), F.sum("r").alias("ri")
    )
    k = F.count("*")
    n = F.sum("ni")
    h = (
        12.0 / (n * (n + 1.0)) * F.sum(F.col("ri") * F.col("ri") / F.col("ni"))
        - 3 * (n + 1.0)
    )
    return per_group.agg(
        k.cast("long").alias("k_groups"),
        n.cast("long").alias("n_total"),
        (k - 1).cast("long").alias("dof"),
        F.round(h, 6).alias("h_stat"),
        F.round((h - k + 1) / (n - k), 6).alias("epsilon_sq"),
    )


@query(
    "stats-grubbs-outlier",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   sum(o_totalprice) AS rev
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        s AS (
            SELECT count(*) AS n, avg(rev) AS mu, stddev_samp(rev) AS sd
            FROM daily
        ),
        dev AS (
            SELECT d.day, d.rev, s.n, abs(d.rev - s.mu) / s.sd AS g
            FROM daily d, s
        )
        SELECT CAST(n AS BIGINT) AS n_days, day AS outlier_day,
               round(rev, 4) AS outlier_rev, round(g, 6) AS g_stat
        FROM dev
        ORDER BY g DESC, day
        LIMIT 1
    """,
    doc="Grubbs' maximum-studentized-deviate outlier test on daily "
    "revenue: G = max|x - mean|/sd with the argmax day attached. The "
    "fact pass is one hash aggregation to ~2.4k daily sums; the "
    "1-row summary stats broadcast back over the daily relation "
    "(scalar-summary pattern) and TakeOrderedAndProject keeps the "
    "winner — no global sort materializes. Deterministic (g desc, "
    "day) tie-break. The single-outlier complement to "
    "anomaly-zscore's per-row flags and anomaly-iqr-fence's robust "
    "fences.",
    tags=("stats",),
)
def stats_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    s = daily.agg(
        F.count("*").alias("n"),
        F.avg("rev").alias("mu"),
        F.stddev_samp("rev").alias("sd"),
    )
    dev = daily.join(F.broadcast(s)).select(
        "day",
        "rev",
        "n",
        (F.abs(F.col("rev") - F.col("mu")) / F.col("sd")).alias("g"),
    )
    return (
        dev.orderBy(F.col("g").desc(), "day")
        .limit(1)
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.col("day").alias("outlier_day"),
            F.round("rev", 4).alias("outlier_rev"),
            F.round("g", 6).alias("g_stat"),
        )
    )


@query(
    "stats-bartlett-test",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   count(*) AS ni,
                   var_samp(value) AS vi
            FROM events GROUP BY event_type
        ),
        s AS (
            SELECT count(*) AS k,
                   sum(ni) AS n,
                   sum((ni - 1) * vi) / sum(ni - 1) AS sp2,
                   sum((ni - 1) * ln(vi)) AS sum_lnv,
                   sum(1.0 / (ni - 1)) AS sum_inv
            FROM g
        )
        SELECT CAST(k AS BIGINT) AS k_groups,
               CAST(n AS BIGINT) AS n_total,
               CAST(k - 1 AS BIGINT) AS dof,
               round(sp2, 6) AS pooled_var,
               round(((n - k) * ln(sp2) - sum_lnv)
                     / (1 + (sum_inv - 1.0 / (n - k)) / (3 * (k - 1))), 6)
                   AS bartlett_stat
        FROM s
    """,
    doc="Bartlett's test for homogeneity of variances across event "
    "types: T = ((N-k) ln s_p^2 - sum (n_i-1) ln s_i^2) / C with the "
    "Bartlett correction C — the parametric, normality-assuming "
    "counterpart to stats-levene-median (which is robust to "
    "non-normality; running both brackets the assumption). One hash "
    "aggregation to k per-group (count, variance) rows, then scalar "
    "math on the k-row summary — variance homogeneity is the "
    "precondition gate for pooled-variance tests like "
    "stats-anova-oneway at any scale.",
    tags=("stats",),
)
def stats_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("ni"), F.var_samp("value").alias("vi")
    )
    ni, vi = F.col("ni"), F.col("vi")
    s = g.agg(
        F.count("*").alias("k"),
        F.sum(ni).alias("n"),
        (F.sum((ni - 1) * vi) / F.sum(ni - 1)).alias("sp2"),
        F.sum((ni - 1) * F.log(vi)).alias("sum_lnv"),
        F.sum(1.0 / (ni - 1)).alias("sum_inv"),
    )
    k, n = F.col("k"), F.col("n")
    t = ((n - k) * F.log(F.col("sp2")) - F.col("sum_lnv")) / (
        1 + (F.col("sum_inv") - 1.0 / (n - k)) / (3 * (k - 1))
    )
    return s.select(
        k.cast("long").alias("k_groups"),
        n.cast("long").alias("n_total"),
        (k - 1).cast("long").alias("dof"),
        F.round("sp2", 6).alias("pooled_var"),
        F.round(t, 6).alias("bartlett_stat"),
    )


@query(
    "stats-poisson-two-rate",
    oracle="""
        WITH counts AS (
            SELECT sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS k1,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k2,
                   count(DISTINCT CAST(ts AS DATE)) AS t_days
            FROM events WHERE event_type IN ('click', 'purchase')
        )
        SELECT CAST(k1 AS BIGINT) AS k1, CAST(k2 AS BIGINT) AS k2,
               CAST(t_days AS BIGINT) AS t_days,
               round(CAST(k1 AS DOUBLE) / t_days, 6) AS rate1,
               round(CAST(k2 AS DOUBLE) / t_days, 6) AS rate2,
               round((k1 - k2) / sqrt(CAST(k1 + k2 AS DOUBLE)), 6)
                   AS z_unconditional,
               round((CAST(k1 AS DOUBLE) / (k1 + k2) - 0.5)
                     / sqrt(0.25 / (k1 + k2)), 6) AS z_conditional
        FROM counts
    """,
    doc="Two-sample Poisson rate comparison over a shared exposure "
    "window: unconditional z = (k1-k2)/sqrt(k1+k2) and the "
    "conditional (binomial) form — given k1+k2 total events, k1 ~ "
    "Bin(k1+k2, 1/2) under H0 of equal rates — which is the exact-"
    "test-backed version. One conditional-count aggregation over "
    "the fact table; the test statistic is scalar math on a 1-row "
    "summary. The counting-process companion to stats-welch-ttest "
    "(means) and stats-srm-check (fixed expected ratio).",
    tags=("stats",),
)
def stats_poisson_two_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    c = ev.agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("k1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("k2"),
        F.count_distinct(F.to_date("ts")).alias("t_days"),
    )
    k1, k2, t = F.col("k1"), F.col("k2"), F.col("t_days")
    return c.select(
        k1.cast("long").alias("k1"),
        k2.cast("long").alias("k2"),
        t.cast("long").alias("t_days"),
        F.round(k1.cast("double") / t, 6).alias("rate1"),
        F.round(k2.cast("double") / t, 6).alias("rate2"),
        F.round((k1 - k2) / F.sqrt((k1 + k2).cast("double")), 6).alias(
            "z_unconditional"
        ),
        F.round(
            (k1.cast("double") / (k1 + k2) - 0.5) / F.sqrt(0.25 / (k1 + k2)), 6
        ).alias("z_conditional"),
    )


@query(
    "stats-welch-anova",
    oracle="""
        WITH g AS (
            SELECT event_type, count(*) AS n, avg(value) AS m,
                   var_samp(value) AS v
            FROM events GROUP BY event_type
        ),
        wsum AS (
            SELECT count(*) AS k,
                   sum(n / v) AS sw,
                   sum((n / v) * m) AS swm
            FROM g
        ),
        num AS (
            SELECT max(wsum.k) AS k, max(wsum.sw) AS sw,
                   sum((g.n / g.v) * power(g.m - wsum.swm / wsum.sw, 2))
                       / (max(wsum.k) - 1) AS numerator,
                   sum(power(1 - (g.n / g.v) / wsum.sw, 2) / (g.n - 1))
                       AS lambda_sum
            FROM g, wsum GROUP BY ALL
        )
        SELECT CAST(k AS BIGINT) AS k_groups,
               CAST(k - 1 AS BIGINT) AS df1,
               round((k * k - 1.0) / (3 * lambda_sum), 6) AS df2,
               round(numerator
                     / (1 + 2.0 * (k - 2) / (k * k - 1) * lambda_sum), 6)
                   AS welch_f
        FROM num
    """,
    doc="Welch's heteroscedastic one-way ANOVA across event types: "
    "weights w_i = n_i/s_i^2, grand weighted mean, F* = "
    "sum(w_i(m_i - mbar_w)^2)/(k-1) / (1 + 2(k-2)/(k^2-1) * Lambda) "
    "with Satterthwaite df2 = (k^2-1)/(3*Lambda) — the version of "
    "stats-anova-oneway that does NOT assume equal variances, which "
    "is exactly what stats-bartlett-test / stats-levene-median "
    "decide between (the three ops form the variance-aware testing "
    "chain). Same shape: one hash aggregation to k rows, scalar "
    "math after.",
    tags=("stats",),
)
def stats_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.avg("value").alias("m"), F.var_samp("value").alias("v")
    )
    wsum = g.agg(
        F.count("*").alias("k"),
        F.sum(F.col("n") / F.col("v")).alias("sw"),
        F.sum((F.col("n") / F.col("v")) * F.col("m")).alias("swm"),
    )
    j = g.join(F.broadcast(wsum))
    wi = F.col("n") / F.col("v")
    mbar = F.col("swm") / F.col("sw")
    num = j.agg(
        F.max("k").alias("k"),
        (F.sum(wi * F.pow(F.col("m") - mbar, 2)) / (F.max("k") - 1)).alias(
            "numerator"
        ),
        F.sum(F.pow(1 - wi / F.col("sw"), 2) / (F.col("n") - 1)).alias(
            "lambda_sum"
        ),
    )
    k = F.col("k")
    return num.select(
        k.cast("long").alias("k_groups"),
        (k - 1).cast("long").alias("df1"),
        F.round((k * k - 1.0) / (3 * F.col("lambda_sum")), 6).alias("df2"),
        F.round(
            F.col("numerator")
            / (1 + 2.0 * (k - 2) / (k * k - 1) * F.col("lambda_sum")),
            6,
        ).alias("welch_f"),
    )


@query(
    "stats-stratified-ate",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   count(*) AS n_events,
                   max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                       AS treated,
                   sum(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0 END) AS outcome
            FROM events GROUP BY user_id
        ),
        strat AS (
            SELECT treated, outcome,
                   ntile(5) OVER (ORDER BY n_events, user_id) AS stratum
            FROM per_user
        ),
        cell AS (
            SELECT stratum,
                   count(*) AS ns,
                   avg(CASE WHEN treated = 1 THEN outcome END) AS mt,
                   avg(CASE WHEN treated = 0 THEN outcome END) AS mc,
                   sum(treated) AS nt
            FROM strat GROUP BY stratum
        ),
        naive AS (
            SELECT avg(CASE WHEN treated = 1 THEN outcome END)
                   - avg(CASE WHEN treated = 0 THEN outcome END) AS ate_naive,
                   sum(treated) AS n_treated,
                   sum(1 - treated) AS n_control
            FROM per_user
        )
        SELECT CAST(max(naive.n_treated) AS BIGINT) AS n_treated,
               CAST(max(naive.n_control) AS BIGINT) AS n_control,
               round(max(naive.ate_naive), 6) AS ate_naive,
               round(sum((cell.mt - cell.mc) * cell.ns)
                     / sum(cell.ns), 6) AS ate_stratified
        FROM cell, naive
        WHERE cell.mt IS NOT NULL AND cell.mc IS NOT NULL
        GROUP BY ALL
    """,
    doc="Stratified average-treatment-effect adjustment: treatment = "
    "user ever signed up, outcome = total purchase value, "
    "confounder = activity level (total events) cut into quintiles "
    "by a deterministic ntile. ATE_strat = sum_s w_s (mean_t,s - "
    "mean_c,s) weights each stratum's within-stratum contrast by "
    "its size — the design-based deconfounder that needs no fitted "
    "propensity model (strata WITH both arms only; dropped cells "
    "reported implicitly via naive-vs-stratified divergence). The "
    "causal-inference step up from stats-cuped-adjustment "
    "(variance) toward effect identification. Two hash "
    "aggregations + one 5-row summary pass.",
    tags=("stats",),
)
def stats_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.ranking import (
        exact_ntile,
        with_global_order,
    )

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        ).alias("treated"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("outcome"),
    )
    # quintile strata via the range-sort rank (operators/ranking.py):
    # the per-user frame grows with the data, so no ntile global
    # window; exact_ntile reproduces ANSI ntile.
    g = with_global_order(
        per_user, "n_events", tiebreakers=("user_id",), rn="__rn",
        total_count="__n",
    )
    strat = g.select(
        "treated",
        "outcome",
        exact_ntile(F.col("__rn"), F.col("__n"), 5).alias("stratum"),
    )
    cell = strat.groupBy("stratum").agg(
        F.count("*").alias("ns"),
        F.avg(F.when(F.col("treated") == 1, F.col("outcome"))).alias("mt"),
        F.avg(F.when(F.col("treated") == 0, F.col("outcome"))).alias("mc"),
        F.sum("treated").alias("nt"),
    )
    naive = per_user.agg(
        (
            F.avg(F.when(F.col("treated") == 1, F.col("outcome")))
            - F.avg(F.when(F.col("treated") == 0, F.col("outcome")))
        ).alias("ate_naive"),
        F.sum("treated").alias("n_treated"),
        F.sum(1 - F.col("treated")).alias("n_control"),
    )
    j = cell.filter(F.col("mt").isNotNull() & F.col("mc").isNotNull()).join(
        F.broadcast(naive)
    )
    return j.agg(
        F.max("n_treated").cast("long").alias("n_treated"),
        F.max("n_control").cast("long").alias("n_control"),
        F.round(F.max("ate_naive"), 6).alias("ate_naive"),
        F.round(
            F.sum((F.col("mt") - F.col("mc")) * F.col("ns")) / F.sum("ns"), 6
        ).alias("ate_stratified"),
    )


@query(
    "stats-mann-kendall",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, avg(value) AS x
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        pairs AS (
            SELECT sign(b.x - a.x) AS s
            FROM daily a JOIN daily b ON a.day < b.day
        ),
        agg AS (
            SELECT (SELECT count(*) FROM daily) AS n, sum(s) AS s_stat
            FROM pairs
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(s_stat, 1) AS s_stat,
               round(n * (n - 1) * (2 * n + 5) / 18.0, 4) AS var_s,
               round((s_stat - sign(s_stat))
                     / sqrt(n * (n - 1) * (2 * n + 5) / 18.0), 6) AS z
        FROM agg
    """,
    doc="Mann-Kendall trend test on daily mean values: S = sum of "
    "sign(x_j - x_i) over all i<j day pairs, Var(S) = "
    "n(n-1)(2n+5)/18 (no tie correction — continuous daily means), "
    "continuity-corrected z. The SIGNIFICANCE test that pairs with "
    "timeseries-theil-sen's slope ESTIMATE (the standard "
    "nonparametric trend duo: MK decides, Theil-Sen sizes). The "
    "pairwise join runs on the day-count summary (~30 rows -> ~450 "
    "pairs), never the fact table — day count grows with calendar "
    "time, not data volume, so the quadratic is bounded at any "
    "corpus scale.",
    tags=("stats",),
)
def stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persist the CALENDAR-BOUNDED daily rollup (<= ~3650 rows at any
    # scale) as ONE cached partition: both pairwise sides and the count
    # re-consumed it (3 events scans -> 1)
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.avg("value").alias("x"))
        .coalesce(1)
        .persist()
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db")).select(
        F.signum(F.col("xb") - F.col("xa")).alias("s")
    )
    nd = daily.agg(F.count("*").alias("n"))
    agg = pairs.agg(F.sum("s").alias("s_stat")).join(F.broadcast(nd))
    n, s = F.col("n"), F.col("s_stat")
    var_s = n * (n - 1) * (2 * n + 5) / 18.0
    return agg.select(
        n.cast("long").alias("n_days"),
        F.round(s, 1).alias("s_stat"),
        F.round(var_s, 4).alias("var_s"),
        F.round((s - F.signum(s)) / F.sqrt(var_s), 6).alias("z"),
    )


@query(
    "stats-cochran-armitage",
    oracle="""
        WITH seg AS (
            SELECT user_id,
                   CAST(user_id % 4 AS DOUBLE) AS dose,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS resp
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ),
        g AS (
            SELECT dose, count(*) AS n, sum(resp) AS r
            FROM seg GROUP BY dose
        ),
        tot AS (
            SELECT sum(n) AS nn, sum(r) AS rr,
                   sum(n * dose) AS snt, sum(n * dose * dose) AS snt2
            FROM g
        )
        SELECT CAST(max(tot.nn) AS BIGINT) AS n_user_days,
               round(max(CAST(tot.rr AS DOUBLE) / tot.nn), 6) AS pooled_rate,
               round(sum(g.dose * (g.r - g.n * CAST(tot.rr AS DOUBLE) / tot.nn))
                     / sqrt((CAST(max(tot.rr) AS DOUBLE) / max(tot.nn))
                            * (1 - CAST(max(tot.rr) AS DOUBLE) / max(tot.nn))
                            * (max(tot.snt2)
                               - max(tot.snt) * max(tot.snt) / max(tot.nn))),
                     6) AS ca_trend_z
        FROM g, tot GROUP BY ALL
    """,
    doc="Cochran-Armitage trend test for a DOSE-RESPONSE in "
    "proportions: daily purchase response on USER-DAY units (the "
    "per-user response saturates at 1 here, which would zero both "
    "pbar*qbar and the numerator) across the 4 ordered "
    "user segments (scores t = 0..3), z = sum t_i (r_i - n_i pbar) "
    "/ sqrt(pbar qbar (sum n_i t_i^2 - (sum n_i t_i)^2 / N)). One "
    "df against the ORDERED alternative, which stats-chi-square's "
    "(k-1) df omnibus wastes power on — the standard choice for "
    "monotone-exposure questions (tier -> conversion, dose -> "
    "response). Two hash aggregations to a 4-row table, scalar "
    "math after.",
    tags=("stats",),
)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seg = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("resp")
    ).select(
        (F.col("user_id") % 4).cast("double").alias("dose"), "resp"
    )
    g = seg.groupBy("dose").agg(F.count("*").alias("n"), F.sum("resp").alias("r"))
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum("r").alias("rr"),
        F.sum(F.col("n") * F.col("dose")).alias("snt"),
        F.sum(F.col("n") * F.col("dose") * F.col("dose")).alias("snt2"),
    )
    j = g.join(F.broadcast(tot))
    pbar = F.max("rr").cast("double") / F.max("nn")
    num = F.sum(
        F.col("dose")
        * (F.col("r") - F.col("n") * F.col("rr").cast("double") / F.col("nn"))
    )
    den = F.sqrt(
        pbar
        * (1 - pbar)
        * (F.max("snt2") - F.max("snt") * F.max("snt") / F.max("nn"))
    )
    return j.agg(
        F.max("nn").cast("long").alias("n_user_days"),
        F.round(pbar, 6).alias("pooled_rate"),
        F.round(num / den, 6).alias("ca_trend_z"),
    )


@query(
    "stats-mood-median",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS m
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        med AS (SELECT median(m) AS gm FROM daily),
        cells AS (
            SELECT d.event_type,
                   count(*) AS ni,
                   sum(CASE WHEN d.m > med.gm THEN 1 ELSE 0 END) AS ai
            FROM daily d, med GROUP BY d.event_type
        ),
        tot AS (
            SELECT sum(ni) AS n, sum(ai) AS a, count(*) AS k FROM cells
        )
        SELECT CAST(max(tot.k) AS BIGINT) AS k_groups,
               CAST(max(tot.n) AS BIGINT) AS n_total,
               CAST(max(tot.k) - 1 AS BIGINT) AS dof,
               round(sum(power(cells.ai - cells.ni * CAST(tot.a AS DOUBLE)
                                             / tot.n, 2)
                         / (cells.ni * CAST(tot.a AS DOUBLE) / tot.n
                            * (1 - CAST(tot.a AS DOUBLE) / tot.n))), 6)
                   AS mood_chi2
        FROM cells, tot GROUP BY ALL
    """,
    doc="Mood's median test across event types: count daily means "
    "above the GRAND median per group, chi-square against the "
    "expected n_i * (a/N) split — the coarsest but most "
    "outlier-immune of the k-group location tests (only signs "
    "relative to one order statistic matter; "
    "stats-kruskal-wallis uses full ranks and more power, "
    "stats-anova-oneway uses means and assumes normality — the "
    "three escalate in assumptions). Exact median on the day "
    "summary, then a k-cell contingency chi-square; both engines "
    "share the same interpolated-median definition.",
    tags=("stats",),
)
def stats_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persist the BOUNDED (type, day) rollup (<= #types x ~3650 rows at
    # any scale) as ONE cached partition: the grand median and the
    # above-median cell counts both re-consume it (4 events scans
    # unpersisted). r11 tried daily+cells at the static 32-partition
    # cache width and reverted (+89%); a single bounded-summary
    # partition removes the width drag.
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.avg("value").alias("m"))
        .coalesce(1)
        .persist()
    )
    med = daily.agg(F.median("m").alias("gm"))
    cells = daily.join(F.broadcast(med)).groupBy("event_type").agg(
        F.count("*").alias("ni"),
        F.sum(F.when(F.col("m") > F.col("gm"), 1).otherwise(0)).alias("ai"),
    )
    tot = cells.agg(
        F.sum("ni").alias("n"), F.sum("ai").alias("a"), F.count("*").alias("k")
    )
    j = cells.join(F.broadcast(tot))
    p = F.col("a").cast("double") / F.col("n")
    exp = F.col("ni") * p
    return j.agg(
        F.max("k").cast("long").alias("k_groups"),
        F.max("n").cast("long").alias("n_total"),
        (F.max("k") - 1).cast("long").alias("dof"),
        F.round(
            F.sum(F.pow(F.col("ai") - exp, 2) / (exp * (1 - p))), 6
        ).alias("mood_chi2"),
    )


@query(
    "stats-diff-in-diff",
    oracle="""
        WITH treated AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                       AS tr
            FROM events GROUP BY user_id
        ),
        cells AS (
            SELECT t.tr,
                   CASE WHEN CAST(e.ts AS DATE) >= DATE '2024-01-16'
                        THEN 1 ELSE 0 END AS post,
                   avg(e.value) AS m,
                   count(*) AS n
            FROM events e JOIN treated t ON e.user_id = t.user_id
            WHERE e.event_type = 'purchase'
            GROUP BY ALL
        ),
        piv AS (
            SELECT max(CASE WHEN tr = 1 AND post = 1 THEN m END) AS t_post,
                   max(CASE WHEN tr = 1 AND post = 0 THEN m END) AS t_pre,
                   max(CASE WHEN tr = 0 AND post = 1 THEN m END) AS c_post,
                   max(CASE WHEN tr = 0 AND post = 0 THEN m END) AS c_pre,
                   CAST(sum(n) AS BIGINT) AS n_obs
            FROM cells
        )
        SELECT n_obs,
               round(t_pre, 6) AS treated_pre,
               round(t_post, 6) AS treated_post,
               round(c_pre, 6) AS control_pre,
               round(c_post, 6) AS control_post,
               round((t_post - t_pre) - (c_post - c_pre), 6) AS did_estimate
        FROM piv
    """,
    doc="Difference-in-differences: treated = users who ever signed "
    "up, period split at mid-window, outcome = purchase value; DiD "
    "= (treated post - pre) - (control post - pre) cancels both "
    "the level difference between groups AND the common time "
    "trend — the workhorse quasi-experimental estimator when "
    "randomization (stats-srm-check's world) is unavailable. "
    "Parallel-trends is the identifying assumption; the four cell "
    "means are printed so a reader can eyeball it. Two hash "
    "aggregations (treatment flags per user, 2x2 cell means) and "
    "a 4-cell pivot.",
    tags=("stats",),
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    treated = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("tr")
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    cells = (
        purchases.join(F.broadcast(treated), "user_id")
        .groupBy(
            "tr",
            F.when(F.to_date("ts") >= F.lit("2024-01-16"), 1)
            .otherwise(0)
            .alias("post"),
        )
        .agg(F.avg("value").alias("m"), F.count("*").alias("n"))
    )
    pick = lambda tr, post: F.max(  # noqa: E731
        F.when((F.col("tr") == tr) & (F.col("post") == post), F.col("m"))
    )
    piv = cells.agg(
        pick(1, 1).alias("t_post"),
        pick(1, 0).alias("t_pre"),
        pick(0, 1).alias("c_post"),
        pick(0, 0).alias("c_pre"),
        F.sum("n").cast("long").alias("n_obs"),
    )
    return piv.select(
        "n_obs",
        F.round("t_pre", 6).alias("treated_pre"),
        F.round("t_post", 6).alias("treated_post"),
        F.round("c_pre", 6).alias("control_pre"),
        F.round("c_post", 6).alias("control_post"),
        F.round(
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre")),
            6,
        ).alias("did_estimate"),
    )


_PERM_B = 20
_PERM_SALT = ":perm-salt-r5"


@query(
    "stats-permutation-test",
    oracle=f"""
        WITH obs AS (
            SELECT avg(CASE WHEN event_type = 'click' THEN value END)
                   - avg(CASE WHEN event_type = 'view' THEN value END)
                       AS diff
            FROM events WHERE event_type IN ('click', 'view')
        ),
        reps AS (
            SELECT e.value, t.b,
                   ({sql_string_hash(
                       "CAST(e.event_id AS VARCHAR) || ':' || CAST(t.b AS VARCHAR)"
                       " || '" + _PERM_SALT + "'"
                   )}) % 2 AS g
            FROM events e
            CROSS JOIN (SELECT unnest(range({_PERM_B})) AS b) t
            WHERE e.event_type IN ('click', 'view')
        ),
        perm AS (
            SELECT b,
                   avg(CASE WHEN g = 1 THEN value END)
                   - avg(CASE WHEN g = 0 THEN value END) AS diff
            FROM reps GROUP BY b
        )
        SELECT CAST({_PERM_B} AS BIGINT) AS n_permutations,
               round(max(o.diff), 6) AS observed_diff,
               round(avg(abs(p.diff)), 6) AS mean_null_abs_diff,
               round((1.0 + sum(CASE WHEN abs(p.diff) >= abs(o.diff)
                                     THEN 1 ELSE 0 END))
                     / ({_PERM_B} + 1.0), 6) AS p_value
        FROM perm p CROSS JOIN obs o
    """,
    doc="Randomization (permutation) test for the click-vs-view mean "
    "value difference: B=20 pseudo-permutations reassign each row's "
    "group by a deterministic md5 hash of (event_id, b) — the "
    "distribution-free significance test that needs no normality or "
    "equal-variance assumption (the exact complement to stats-welch-"
    "ttest on the same contrast), with the add-one p-value (Phipson-"
    "Smyth) that never reports 0. The hash makes every replicate "
    "reproducible across engines and retries — rand()-based "
    "permutation tests are neither — and the B-fold fan-out is an "
    "explicit constant multiplier (B x one hash-agg), embarrassingly "
    "parallel at 100 TB; raise B for finer p resolution, cost is "
    "linear.",
    tags=("stats",),
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.dedup import string_hash

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    obs = ev.agg(
        (
            F.avg(F.when(F.col("event_type") == "click", F.col("value")))
            - F.avg(F.when(F.col("event_type") == "view", F.col("value")))
        ).alias("diff")
    )
    reps = ev.select(
        "value",
        F.explode(
            F.array(*[F.lit(b) for b in range(_PERM_B)])
        ).alias("b"),
        "event_id",
    ).select(
        "value",
        "b",
        (
            string_hash(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                    F.lit(_PERM_SALT),
                )
            )
            % 2
        ).alias("g"),
    )
    perm = reps.groupBy("b").agg(
        (
            F.avg(F.when(F.col("g") == 1, F.col("value")))
            - F.avg(F.when(F.col("g") == 0, F.col("value")))
        ).alias("diff")
    )
    return perm.crossJoin(F.broadcast(obs.select(F.col("diff").alias("odiff")))).agg(
        F.lit(_PERM_B).cast("long").alias("n_permutations"),
        F.round(F.max("odiff"), 6).alias("observed_diff"),
        F.round(F.avg(F.abs(F.col("diff"))), 6).alias("mean_null_abs_diff"),
        F.round(
            (
                1.0
                + F.sum(
                    F.when(
                        F.abs(F.col("diff")) >= F.abs(F.col("odiff")), 1
                    ).otherwise(0)
                )
            )
            / (_PERM_B + 1.0),
            6,
        ).alias("p_value"),
    )
