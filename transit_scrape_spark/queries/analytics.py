"""Product-analytics workload family over the events stream table:
funnel conversion and cohort retention — the queries an events pipeline
serves all day, shaped as single-shuffle grouped plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_scrape_spark.queries.registry import query
from transit_scrape_spark.session import cache_width
from transit_scrape_spark.sources.tables import load_table


@query(
    "funnel-conversion",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events
            GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(count(t_view) AS BIGINT) AS n_viewed,
               CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clicked_after_view,
               CAST(sum(CASE WHEN t_purchase > t_click AND t_click > t_view
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        FROM per_user
    """,
    doc="Funnel analysis (view -> click -> purchase in time order): one "
    "groupBy(user) with conditional min-timestamps, then a single-row "
    "rollup — no joins, no window, one shuffle; the standard "
    "events-pipeline conversion query.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = lambda typ: F.min(F.when(F.col("event_type") == typ, F.col("ts")))  # noqa: E731
    per_user = ev.groupBy("user_id").agg(
        t("view").alias("t_view"),
        t("click").alias("t_click"),
        t("purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.sum(
            F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0)
        ).cast("long").alias("n_clicked_after_view"),
        F.sum(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_full_funnel"),
    )


@query(
    "retention-cohorts",
    oracle="""
        WITH firsts AS (
            SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
            FROM events GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT e.user_id, f.cohort_week,
                   CAST(datediff('week', f.cohort_week, date_trunc('week', e.ts)) AS BIGINT)
                       AS week_n
            FROM events e JOIN firsts f ON e.user_id = f.user_id
        )
        SELECT cohort_week, week_n, CAST(count(*) AS BIGINT) AS n_active_users
        FROM activity
        GROUP BY cohort_week, week_n
    """,
    doc="Cohort retention: first-activity week per user, then distinct "
    "(user, weeks-since-cohort) counts — the firsts relation re-joins "
    "the fact on user_id (both sides partition on user_id, AQE reuses "
    "the exchange); distinct bounds the matrix to users x weeks.",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            # Calendar arithmetic, not unix-seconds division: both sides are
            # week-truncated so datediff is an exact multiple of 7 days even
            # across DST transitions (where a "week" is 604800±3600 s and a
            # seconds-based floor can land one week off).
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
            ).alias("week_n"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_n").agg(
        F.count("*").alias("n_active_users")
    )


@query(
    "event-transition-matrix",
    oracle="""
        WITH seq AS (
            SELECT event_type AS from_state,
                   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS to_state
            FROM events WHERE ts IS NOT NULL
        )
        SELECT from_state, to_state,
               CAST(count(*) AS BIGINT) AS n,
               round(count(*) / sum(count(*)) OVER (PARTITION BY from_state), 6) AS p
        FROM seq
        WHERE to_state IS NOT NULL
        GROUP BY from_state, to_state
    """,
    doc="Markov transition matrix over per-user event sequences: "
    "lead(event_type) pairs each event with its successor (one window "
    "shuffle on user_id — sequences never leave their partition), then "
    "a count per (from, to) cell and a windowed row-normalization to "
    "probabilities. |event_types|^2 output cells regardless of input "
    "size; the state-machine summary behind next-action prediction and "
    "journey analysis.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_state"),
        F.lead("event_type").over(w).alias("to_state"),
    ).filter(F.col("to_state").isNotNull())
    counted = seq.groupBy("from_state", "to_state").agg(F.count("*").alias("n"))
    wrow = Window.partitionBy("from_state")
    return counted.select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n") / F.sum("n").over(wrow), 6).alias("p"),
    )


@query(
    "anomaly-zscore",
    oracle="""
        WITH stats AS (
            SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sd
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN abs((e.value - s.mu) / s.sd) > 3
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               round(max(abs((e.value - s.mu) / s.sd)), 4) AS max_abs_z
        FROM events e JOIN stats s ON e.event_type = s.event_type
        GROUP BY e.event_type
    """,
    doc="Z-score anomaly screen per event type: per-group mean/stddev in "
    "one grouped pass (streaming moments, no value buffering), "
    "broadcast the tiny stats table back over the fact, flag |z| > 3. "
    "The metrics-monitoring shape at 100 TB: stats are "
    "|event_types| rows however large the fact is, so the second pass "
    "is a broadcast join + codegen'd projection — and at petabyte "
    "scale the same two-pass plan computes stats on a sampled slice "
    "without changing shape.",
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sd")
    )
    z = F.abs((F.col("value") - F.col("mu")) / F.col("sd"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(z > 3, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.round(F.max(z), 4).alias("max_abs_z"),
        )
    )


@query(
    "scd2-point-in-time",
    oracle="""
        SELECT user_id, event_type AS state_at_t, ts AS effective_from
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
              WHERE ts <= TIMESTAMP '2024-01-20')
        WHERE rn = 1
    """,
    doc="Point-in-time lookup against the SCD2 history (scd2-intervals' "
    "query side): each user's state AS OF 2024-01-20 = last change at "
    "or before T. The ts <= T predicate pushes into the parquet scan "
    "(row-group min/max pruning skips everything after T — on a "
    "time-partitioned layout, whole partitions), then one per-user "
    "window takes the latest row. The reproducible-training-snapshot "
    "query: 'the feature value as the model would have seen it on "
    "date T'.",
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit("2024-01-20").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("state_at_t"),
            F.col("ts").alias("effective_from"),
        )
    )


@query(
    "rolling-active-users",
    oracle="""
        WITH du AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
            FROM events
        ),
        dau AS (
            SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day
        ),
        contrib AS (
            SELECT user_id, day + CAST(k AS INTEGER) AS wday
            FROM du, (SELECT unnest(range(0, 7)) AS k)
        ),
        wau AS (
            SELECT wday AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
            FROM contrib GROUP BY wday
        )
        SELECT d.day, d.dau, w.wau
        FROM dau d JOIN wau w ON d.day = w.day
    """,
    doc="Rolling DAU/WAU: daily active users plus trailing-7-day "
    "distinct actives per day. Rolling COUNT DISTINCT cannot use a "
    "plain window frame (distinctness does not decompose), so each "
    "(user, day) activity CONTRIBUTES itself to the 7 window-end days "
    "it falls inside (explode of a 7-element sequence — bounded fanout "
    "= window length), then one distinct count per window-end day. "
    "Two grouped shuffles, both keyed on day; state never exceeds "
    "|users| x |window| regardless of event volume. The dashboard "
    "staple for any events pipeline.",
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = du.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"), "day"
    ).select("user_id", F.date_add(F.col("day"), F.col("k")).alias("day"))
    wau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return dau.join(wau, "day").select("day", "dau", "wau")


@query(
    "attribution-last-touch",
    oracle="""
        WITH touches AS (
            SELECT DISTINCT user_id, ts, event_id, event_type FROM events
            WHERE ts IS NOT NULL AND event_type IN ('view', 'click')
        ),
        purchases AS (
            SELECT DISTINCT user_id, ts, event_id FROM events
            WHERE ts IS NOT NULL AND event_type = 'purchase'
        )
        SELECT coalesce(t.channel, 'direct') AS channel,
               CAST(count(*) AS BIGINT) AS n_purchases
        FROM purchases p LEFT JOIN (
            SELECT p.event_id AS p_event,
                   (SELECT t.event_type FROM touches t
                    WHERE t.user_id = p.user_id AND t.ts <= p.ts
                      AND t.ts >= p.ts - INTERVAL 7 DAY
                    ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS channel
            FROM purchases p
        ) t ON p.event_id = t.p_event
        GROUP BY 1
    """,
    doc="Last-touch attribution: each purchase credits the LATEST "
    "view/click by the same user within a 7-day lookback, else "
    "'direct'. Built on the as-of union+window carry (one shuffle on "
    "user_id, no range self-join): touches and purchases interleave "
    "in time order, last-seen touch (type AND time) carries forward, "
    "and the lookback bound nulls stale touches — the same "
    "staleness-tolerance algebra as join-asof-tolerance. The oracle "
    "states the textbook correlated top-1 form; the plan computes it "
    "with bounded window state. Marketing-analytics staple over any "
    "event firehose.",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # re-delivered duplicate events collapse before attribution (the
    # oracle's purchase-keyed join fans out on duplicate event_ids)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .dropDuplicates(["event_id"])
    )
    tagged = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias(
            "touch_type"
        ),
        F.when(F.col("event_type") != "purchase", F.col("ts")).alias("touch_ts"),
        # Tie rule from the oracle's `t.ts <= p.ts`: a touch sharing the
        # purchase's timestamp is eligible regardless of event_id, so sort
        # touches (side 0) before purchases (side 1) at equal ts; among
        # equal-ts touches the oracle's `event_id DESC LIMIT 1` picks the
        # largest event_id, which last() sees last under ascending order.
        (F.col("event_type") == "purchase").cast("int").alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "event_type",
        "ts",
        F.last("touch_type", ignorenulls=True).over(w).alias("last_touch"),
        F.last("touch_ts", ignorenulls=True).over(w).alias("last_touch_ts"),
    )
    fresh = F.col("last_touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(F.when(fresh, F.col("last_touch")), F.lit("direct")).alias(
                "channel"
            )
        )
        .groupBy("channel")
        .agg(F.count("*").alias("n_purchases"))
    )


@query(
    "window-streaks",
    oracle="""
        WITH days AS (
            -- NULL ts rows have no day and belong to no streak; also a
            -- NULL partition/order key triggers a DuckDB parallel-window
            -- flake (row_number restarts per thread chunk) — excluded
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events WHERE ts IS NOT NULL
        ),
        grouped AS (
            SELECT user_id, day,
                   day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                              AS INTEGER) AS streak_key
            FROM days
        ),
        streaks AS (
            SELECT user_id, streak_key,
                   CAST(count(*) AS BIGINT) AS streak_len,
                   min(day) AS streak_start
            FROM grouped
            GROUP BY user_id, streak_key
        )
        SELECT user_id, streak_len, streak_start
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY streak_len DESC, streak_start) AS rn
              FROM streaks)
        WHERE rn = 1
    """,
    doc="Longest consecutive-day activity streak per user — the classic "
    "gaps-and-islands construction: day minus its per-user rank is "
    "CONSTANT exactly across consecutive runs, so grouping on that "
    "difference labels each island with no self-join and no "
    "iteration. Two windows + one groupBy, all partitioned on "
    "user_id (one shuffle, reused). Complements sessionize "
    "(time-gap islands at second granularity) with the calendar-day "
    "variant engagement metrics use.",
)
def window_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grouped = days.withColumn(
        "streak_key", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = grouped.groupBy("user_id", "streak_key").agg(
        F.count("*").alias("streak_len"), F.min("day").alias("streak_start")
    )
    wtop = Window.partitionBy("user_id").orderBy(
        F.col("streak_len").desc(), "streak_start"
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_len", "streak_start")
    )


@query(
    "basket-affinity",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )
        SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_baskets
        FROM pairs
        GROUP BY part_a, part_b
        HAVING count(*) >= 2
        ORDER BY n_baskets DESC, part_a, part_b
        LIMIT 50
    """,
    doc="Market-basket affinity (parts co-ordered in the same order): "
    "distinct items per basket, within-basket pair self-join on the "
    "basket key, support count, threshold, top-50. The pair fanout is "
    "quadratic only in BASKET SIZE (~4 items -> ~6 pairs), never in "
    "catalog or order count — the same within-group-pairing shape as "
    "the LSH candidate join. At 100 TB add a frequent-item pre-pass "
    "(drop items below min support before pairing — the a-priori "
    "pruning step) and the plan is production FP-growth's candidate "
    "stage.",
)
def basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # one groupBy collects each basket's distinct item set and the pairs
    # are generated in-row from the sorted array — the previous
    # distinct + self-join form planned the distinct aggregate once per
    # join side and shuffled both (4 exchanges vs 2, r11). Pair fanout
    # is still quadratic only in BASKET SIZE. Semantics match exactly:
    # collect_set == DISTINCT per basket (NULL partkeys drop on both
    # forms — NULL never satisfies a < b), the NULL-orderkey basket is
    # excluded as the old equi-join excluded it, and sorted-array index
    # pairs (i < j) enumerate exactly the a.partkey < b.partkey pairs.
    baskets = (
        li.filter(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    pair_expr = F.flatten(
        F.transform(
            "ps",
            lambda x, i: F.transform(
                F.slice("ps", i + 2, F.greatest(F.size("ps") - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = baskets.select(F.explode(pair_expr).alias("p")).select("p.*")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_baskets"))
        .filter(F.col("n_baskets") >= 2)
        .orderBy(F.col("n_baskets").desc(), "part_a", "part_b")
        .limit(50)
    )


@query(
    "agg-gini-coefficient",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT revenue,
                   row_number() OVER (ORDER BY revenue, o_custkey) AS i,
                   count(*) OVER () AS n,
                   sum(revenue) OVER () AS total
            FROM per_cust
        )
        SELECT CAST(max(n) AS BIGINT) AS n_customers,
               round((2.0 * sum(i * revenue)) / (max(n) * max(total))
                     - (max(n) + 1.0) / max(n), 6) AS gini
        FROM ranked
    """,
    doc="Gini coefficient of customer revenue (the inequality summary "
    "behind concentration dashboards): rank-weighted sum formula "
    "G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending-sorted "
    "values. The global rank comes from one range-partitioned sort "
    "in operators/ranking.py (per-partition offsets prefix-summed "
    "in Python), so the per-customer frame — which grows with "
    "the data — never funnels through one partition; count/total "
    "come from the same offset pass. "
    "Degenerate-to-uniform check: all-equal revenues give G=0, "
    "one-customer-takes-all gives G->1.",
)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.ranking import with_global_order

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    ranked = with_global_order(
        per_cust,
        "revenue",
        tiebreakers=("o_custkey",),
        rn="i",
        total_count="n",
        total_sums={"total": "revenue"},
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.round(
            (2.0 * F.sum(F.col("i") * F.col("revenue")))
            / (F.max("n") * F.max("total"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


@query(
    "window-index-to-first",
    oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_id, value,
                   first_value(value) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS v0
            FROM events
            WHERE ts IS NOT NULL AND event_type = 'purchase'
        )
        SELECT user_id, ts, event_id,
               round(100.0 * value / v0, 4) AS indexed_value
        FROM seq
        WHERE v0 <> 0
    """,
    doc="Index-to-first normalization (every user's purchase values "
    "rebased to their first purchase = 100): first_value over the "
    "per-user time order, one window shuffle — the cohort-comparable "
    "form of any absolute metric ('how did spend evolve relative to "
    "each user's own baseline'), which makes heterogeneous users "
    "plottable on one axis. Composes with retention-cohorts (group "
    "the indexed series by cohort week) without new shuffles — both "
    "partition on user_id.",
)
def window_index_to_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "ts", "event_id", "value",
        F.first("value").over(w).alias("v0"),
    )
    return seq.filter(F.col("v0") != 0).select(
        "user_id",
        "ts",
        "event_id",
        F.round(100.0 * F.col("value") / F.col("v0"), 4).alias("indexed_value"),
    )


@query(
    "analytics-churn",
    oracle="""
        WITH weekly AS (
            SELECT DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
                   user_id
            FROM events
        ),
        pairs AS (
            SELECT a.week,
                   a.user_id AS u_a,
                   b.user_id AS u_b
            FROM weekly a
            FULL OUTER JOIN weekly b
              ON a.user_id = b.user_id
             AND b.week = a.week + INTERVAL 7 DAY
        )
        SELECT week,
               CAST(count(*) FILTER (WHERE u_a IS NOT NULL) AS BIGINT) AS n_active,
               CAST(count(*) FILTER (WHERE u_a IS NOT NULL AND u_b IS NOT NULL)
                    AS BIGINT) AS n_retained,
               CAST(count(*) FILTER (WHERE u_a IS NOT NULL AND u_b IS NULL)
                    AS BIGINT) AS n_churned
        FROM pairs
        WHERE week IS NOT NULL
        GROUP BY week
    """,
    doc="Week-over-week churn: distinct active users per week, "
    "self-joined one week forward — retained = present both weeks, "
    "churned = active now, absent next. The join is co-partitioned "
    "on user_id (the distinct and the join share the exchange) and "
    "the weekly relation is |users| x |weeks| AT MOST — far smaller "
    "than the event fact. Last week's cohort shows churned = "
    "n_active (no next week exists yet) — the honest edge, not an "
    "error; dashboards null it out. The subscription-health "
    "companion to retention-cohorts' triangle view.",
)
def analytics_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.select(
        F.date_trunc("week", F.col("ts")).alias("week"), "user_id"
    ).distinct()
    a, b = weekly.alias("a"), weekly.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.week") == F.col("a.week") + F.expr("INTERVAL 7 DAYS")),
        "full_outer",
    )
    return (
        pairs.filter(F.col("a.week").isNotNull())
        .groupBy(F.col("a.week").alias("week"))
        .agg(
            F.count("a.user_id").alias("n_active"),
            F.sum(
                F.when(F.col("b.user_id").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_retained"),
            F.sum(F.when(F.col("b.user_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_churned"),
        )
    )


@query(
    "analytics-purchase-intervals",
    oracle="""
        WITH p AS (
            SELECT user_id, ts, event_id,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS next_ts
            FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        ),
        gaps AS (
            SELECT CAST(floor(date_diff('second', ts, next_ts) / 3600.0) AS BIGINT)
                       AS gap_hours
            FROM p WHERE next_ts IS NOT NULL
        )
        SELECT least(gap_hours, 48) AS gap_hours_capped,
               CAST(count(*) AS BIGINT) AS n_intervals
        FROM gaps
        GROUP BY 1
    """,
    doc="Inter-purchase interval distribution: lead() pairs each "
    "purchase with the user's next one, gaps bucket to hours with a "
    "48h overflow cap — the repeat-behavior histogram behind "
    "replenishment-cycle and winback timing. One per-user window "
    "shuffle then a bounded-key groupBy (<=49 buckets, map-side "
    "combined); the capped bucket keeps the output schema fixed "
    "however long the tail. Pairs with window-ewma for smoothing the "
    "resulting series.",
)
def analytics_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select("user_id", "ts", F.lead("ts").over(w).alias("next_ts")).filter(
        F.col("next_ts").isNotNull()
    )
    gap_hours = F.floor(
        (F.unix_timestamp("next_ts") - F.unix_timestamp("ts")) / 3600.0
    ).cast("long")
    return (
        p.select(F.least(gap_hours, F.lit(48)).alias("gap_hours_capped"))
        .groupBy("gap_hours_capped")
        .agg(F.count("*").alias("n_intervals"))
    )


@query(
    "analytics-seasonal-index",
    oracle="""
        WITH monthly AS (
            SELECT CAST(extract(month FROM o_orderdate) AS BIGINT) AS month,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders GROUP BY 1
        ),
        base AS (SELECT avg(CAST(revenue AS DOUBLE)) AS avg_rev FROM monthly)
        SELECT month, n_orders,
               CAST(round(revenue, 2) AS DOUBLE) AS revenue,
               round(CAST(revenue AS DOUBLE) / avg_rev, 6) AS seasonal_index
        FROM monthly, base
    """,
    doc="Seasonal index by calendar month: month-of-year revenue "
    "relative to the all-month average (index > 1 = hot month) — the "
    "deseasonalization divisor forecasting and target-setting use. "
    "One 12-row grouped aggregate plus a broadcast scalar mean; "
    "revenue through DECIMAL for partition-order-stable cents. Spans "
    "multiple years of orderdate, so each month's index pools its "
    "occurrences — extend the group key with extract(year) to watch "
    "the index drift year over year.",
)
def analytics_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.month("o_orderdate").cast("long").alias("month")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
    )
    base = monthly.agg(F.avg(F.col("revenue").cast("double")).alias("avg_rev"))
    return (
        monthly.join(F.broadcast(base))
        .select(
            "month",
            "n_orders",
            F.round(F.col("revenue"), 2).cast("double").alias("revenue"),
            F.round(F.col("revenue").cast("double") / F.col("avg_rev"), 6).alias(
                "seasonal_index"
            ),
        )
    )


@query(
    "funnel-windowed-strict",
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click'
              AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 1 HOUR
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase'
              AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 1 HOUR
            GROUP BY e.user_id
        )
        SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_viewed,
               CAST((SELECT count(*) FROM c) AS BIGINT) AS n_clicked_in_window,
               CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchased_in_window
    """,
    doc="Strict windowed funnel: click must land within 1 HOUR of the "
    "first view, purchase within 1 hour of that qualifying click — "
    "the time-bounded conversion definition real funnels use "
    "(funnel-conversion's order-only version over-counts users who "
    "converted days later). Each stage is a grouped min re-joined on "
    "user_id — all three shuffles share the user_id partitioning, "
    "and each stage's input shrinks to the previous stage's "
    "survivors. Window bounds are the state-eviction rule when this "
    "runs streaming (stream-stream-join's interval condition, "
    "chained).",
)
def funnel_windowed_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour = F.expr("INTERVAL 1 HOUR")
    # persist the per-stage survivor summaries: v feeds the click join
    # AND the funnel count, c feeds the purchase join AND its count (6
    # events scans unpersisted). r11's attempt cached them at the
    # static 32-partition width and reverted on variance; the cached
    # shape now coalesces to summary width (session.cache_width) while
    # the grouped-min exchanges keep the full user_id spread.
    w = cache_width(spark)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .coalesce(w)
        .persist()
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + hour)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .coalesce(w)
        .persist()
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + hour)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_viewed"))
        .join(c.agg(F.count("*").alias("n_clicked_in_window")))
        .join(p.agg(F.count("*").alias("n_purchased_in_window")))
    )


@query(
    "analytics-survival-censored",
    oracle="""
        WITH obs_end AS (SELECT max(ts) AS t_end FROM events),
        firsts AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events GROUP BY user_id
        ),
        durations AS (
            SELECT user_id,
                   CASE WHEN t_purchase IS NOT NULL AND t_purchase > t_view
                        THEN date_diff('second', t_view, t_purchase)
                        ELSE date_diff('second', t_view, (SELECT t_end FROM obs_end))
                        END / 3600.0 AS hours,
                   (t_purchase IS NULL OR t_purchase <= t_view) AS censored
            FROM firsts
            WHERE t_view IS NOT NULL
        )
        SELECT CAST(least(floor(hours / 24), 7) AS BIGINT) AS day_bucket,
               censored,
               CAST(count(*) AS BIGINT) AS n_users
        FROM durations
        GROUP BY 1, 2
    """,
    doc="Survival analysis with right-censoring: time from first view "
    "to first purchase; users who never converted are CENSORED at "
    "observation end (their true time-to-convert is only known to "
    "exceed what we watched) — dropping them is the classic bias "
    "that makes conversion look faster than it is. Durations bucket "
    "to days (7+ overflow), censored flag kept separate so a "
    "Kaplan-Meier estimator can consume the table directly. One "
    "grouped conditional-min pass + a broadcast scalar (observation "
    "end); the funnel family's statistically-honest sibling.",
)
def analytics_survival_censored(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    obs_end = ev.agg(F.max("ts").alias("t_end"))
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    converted = F.col("t_purchase").isNotNull() & (
        F.col("t_purchase") > F.col("t_view")
    )
    hours = (
        F.when(
            converted,
            F.unix_timestamp("t_purchase") - F.unix_timestamp("t_view"),
        ).otherwise(F.unix_timestamp("t_end") - F.unix_timestamp("t_view"))
        / 3600.0
    )
    durations = (
        firsts.filter(F.col("t_view").isNotNull())
        .join(F.broadcast(obs_end))
        .select(
            hours.alias("hours"),
            (~converted).alias("censored"),
        )
    )
    return durations.groupBy(
        F.least(F.floor(F.col("hours") / 24), F.lit(7)).cast("long").alias(
            "day_bucket"
        ),
        "censored",
    ).agg(F.count("*").alias("n_users"))


@query(
    "analytics-rfm",
    oracle="""
        WITH ref AS (
            SELECT CAST(max(o_orderdate) AS DATE) AS maxd FROM orders
        ),
        cust AS (
            SELECT o_custkey AS custkey,
                   CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                                  (SELECT maxd FROM ref)) AS BIGINT)
                       AS recency_days,
                   CAST(count(*) AS BIGINT) AS frequency,
                   round(sum(o_totalprice), 2) AS monetary
            FROM orders GROUP BY o_custkey
        )
        SELECT custkey, recency_days, frequency, monetary,
               CAST(ntile(5) OVER (ORDER BY recency_days ASC, custkey) AS BIGINT)
                   AS r_score,
               CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey) AS BIGINT)
                   AS f_score,
               CAST(ntile(5) OVER (ORDER BY monetary DESC, custkey) AS BIGINT)
                   AS m_score
        FROM cust
    """,
    doc="RFM customer segmentation: recency (days since last order, "
    "anchored to the corpus max date so the op is reproducible), "
    "frequency, monetary, each scored into quintiles by ntile(5). "
    "Score 1 is best on every axis (most recent / most frequent / "
    "highest spend). Every ORDER BY carries the custkey tie-break — "
    "ntile without a total order is nondeterministic across engines "
    "and across Spark retries, the classic silent-drift bug in "
    "scoring pipelines. Shape: one groupBy on custkey, then three "
    "window sorts over the |customers| aggregate (at 100 TB: "
    "range-partitioned sorts over the rollup, never the fact).",
)
def analytics_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    ref = o.agg(F.to_date(F.max("o_orderdate")).alias("maxd"))
    cust = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.to_date(F.max("o_orderdate")).alias("last_order"),
            F.count("*").cast("long").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "custkey",
            F.datediff(F.col("maxd"), F.col("last_order"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # three exact global ranks from range sorts (operators/ranking.py):
    # the customer frame grows with the data, so no ntile window over
    # all customers; exact_ntile reproduces ANSI ntile bucket sizes from
    # the exact rank. Each call sorts the persisted output of the one
    # before; release_caches() drops them once the output is written.
    from transit_scrape_spark.operators.ranking import (
        exact_ntile,
        with_global_order,
    )

    tb = ("custkey",)
    g = with_global_order(cust, "recency_days", tiebreakers=tb, rn="__r_rn")
    g = with_global_order(
        g, "frequency", ascending=False, tiebreakers=tb, rn="__f_rn"
    )
    g = with_global_order(
        g, "monetary", ascending=False, tiebreakers=tb, rn="__m_rn",
        total_count="__n",
    )
    n = F.col("__n")
    return g.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        exact_ntile(F.col("__r_rn"), n, 5).alias("r_score"),
        exact_ntile(F.col("__f_rn"), n, 5).alias("f_score"),
        exact_ntile(F.col("__m_rn"), n, 5).alias("m_score"),
    )


@query(
    "anomaly-iqr-fence",
    oracle="""
        WITH q AS (
            SELECT event_type,
                   quantile_cont(value, 0.25) AS q1,
                   quantile_cont(value, 0.75) AS q3
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               round(q.q1, 4) AS q1,
               round(q.q3, 4) AS q3,
               round(q.q3 - q.q1, 4) AS iqr,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                                        OR e.value > q.q3 + 1.5 * (q.q3 - q.q1))
                    AS BIGINT) AS n_outliers
        FROM events e JOIN q ON e.event_type = q.event_type
        GROUP BY e.event_type, q.q1, q.q3
    """,
    doc="Tukey-fence outlier screen per event type: exact q1/q3 "
    "(interpolating percentile, identical quantile_cont semantics in "
    "both engines), fences at 1.5*IQR, outlier counts via a FILTER "
    "clause aggregate. The robust complement to anomaly-zscore "
    "(mean/std get dragged by the very outliers they're meant to "
    "flag; quartiles don't — same motivation as agg-robust-mad). "
    "Plan: percentile agg collapses per type, broadcast-joins back "
    "over the fact, one more map-side-combined count pass. At 100 TB "
    "swap exact percentile for approx_percentile in the first pass; "
    "fence logic unchanged.",
)
def anomaly_iqr_fence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.25)).alias("q1"),
        F.percentile(F.col("value"), F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    is_out = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
        )
        .select(
            "event_type",
            F.round(F.col("q1"), 4).alias("q1"),
            F.round(F.col("q3"), 4).alias("q3"),
            F.round(F.col("q3") - F.col("q1"), 4).alias("iqr"),
            "n",
            "n_outliers",
        )
    )


@query(
    "agg-multi-distinct-expand",
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd_supps,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_orders,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Multiple count(DISTINCT ...) on DIFFERENT columns in one "
    "result — rewritten two-phase instead of Spark's native Expand "
    "plan. The naive `agg(countDistinct(a), countDistinct(b), ...)` "
    "plans an Expand that replicates every input row once per "
    "distinct-column into ONE hash aggregate with a wide NULL-padded "
    "composite key; the r10 sf10 soak measured that superlinear "
    "(12.06x at 10x data — cache/spill blowup of the 3x-rows hash "
    "table). Two-phase: per column, groupBy(flag, col) partially "
    "dedups map-side (narrow 2-column key), then a per-flag count of "
    "the deduped pairs; the plain row count rides the first branch as "
    "sum(per-key counts). 3 pruned column-pair scans + 3 pre-deduped "
    "shuffles + broadcast joins of 3-row results; sf10 ratio 4.2x vs "
    "11.3x for Expand, equal at sf1. At 100 TB swap heavy columns "
    "onto approx_count_distinct (agg-approx-sketch) or bitmap "
    "aggregates (agg-bitmap-builtin) where exactness isn't needed.",
)
def agg_multi_distinct_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def nd(col: str, alias: str, with_rows: bool = False):
        per_key = li.groupBy("l_returnflag", col).agg(
            F.count("*").alias("_c")
        )
        # count(DISTINCT col) excludes NULLs: the NULL group still
        # flows through phase 1 (it must, when with_rows needs the
        # all-rows total) but doesn't count as a distinct value
        aggs = [
            F.sum(F.when(F.col(col).isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias(alias)
        ]
        if with_rows:
            aggs.append(F.sum("_c").cast("long").alias("n_rows"))
        return per_key.groupBy("l_returnflag").agg(*aggs)

    # branches combine via unionByName + a 3-row groupBy, NOT equi-joins:
    # a NULL l_returnflag group (null-hostile warehouse) survives a
    # groupBy key but would be dropped by join equality
    combined = (
        nd("l_partkey", "nd_parts", with_rows=True)
        .unionByName(nd("l_suppkey", "nd_supps"), allowMissingColumns=True)
        .unionByName(nd("l_orderkey", "nd_orders"), allowMissingColumns=True)
    )
    return combined.groupBy("l_returnflag").agg(
        *[
            F.max(c).cast("long").alias(c)
            for c in ("nd_parts", "nd_supps", "nd_orders", "n_rows")
        ]
    )


@query(
    "event-path-ngrams",
    oracle="""
        WITH seq AS (
            SELECT event_type AS s1,
                   lead(event_type, 1) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS s2,
                   lead(event_type, 2) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS s3
            FROM (SELECT DISTINCT user_id, event_type, ts, event_id
                  FROM events
                  WHERE ts IS NOT NULL AND event_type IS NOT NULL) base
        ),
        grams AS (
            SELECT s1 || ' > ' || s2 || ' > ' || s3 AS path,
                   CAST(count(*) AS BIGINT) AS n
            FROM seq
            WHERE s2 IS NOT NULL AND s3 IS NOT NULL
            GROUP BY 1
        )
        SELECT path, n
        FROM grams
        ORDER BY n DESC, path
        LIMIT 20
    """,
    doc="Top journey 3-grams: two lead() windows over each user's "
    "ordered event sequence form (e1 > e2 > e3) paths, counted and "
    "top-20'd — the path-mining extension of event-transition-matrix "
    "(2-grams) that surfaces multi-step funnels without a funnel "
    "hypothesis. One window shuffle on user_id (both leads share the "
    "same window spec and sort), one map-side-combined groupBy "
    "bounded by |types|^3 cells, TakeOrderedAndProject for the "
    "top-k. Longer n-grams = more lead() columns, same single "
    "shuffle.",
)
def event_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # typed, deduped sequence: NULL-type steps are noise (and engines
    # disagree on NULL concat), duplicate deliveries collapse
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .dropDuplicates(["event_id"])
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"),
    ).filter(F.col("s2").isNotNull() & F.col("s3").isNotNull())
    grams = (
        seq.select(
            F.concat_ws(" > ", F.col("s1"), F.col("s2"), F.col("s3")).alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return grams.orderBy(F.col("n").desc(), F.col("path")).limit(20)


@query(
    "window-pct-of-total",
    oracle="""
        WITH nat AS (
            SELECT c_nationkey,
                   round(sum(o_totalprice), 2) AS nation_rev,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey
        )
        SELECT c_nationkey, nation_rev, n_orders,
               round(nation_rev / sum(nation_rev) OVER (), 6) AS pct_of_total,
               round(sum(nation_rev) OVER (
                   ORDER BY nation_rev DESC, c_nationkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   / sum(nation_rev) OVER (), 6) AS cum_share
        FROM nat
    """,
    doc="Percent-of-total and cumulative-share windows over a rollup: "
    "nation revenue share of the grand total (empty OVER () = one "
    "global partition) and running concentration ordered by size — "
    "the BI staple behind every contribution/Pareto chart (cf. "
    "abc-revenue-deciles for the decile cut). The fact is collapsed "
    "FIRST (fk join + groupBy), so the unpartitioned windows — a "
    "single-partition sort at any scale — run over |nations| rows, "
    "never the fact. The denominator sum(x) OVER () is computed once "
    "and reused by both share expressions.",
)
def window_pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("nation_rev"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )
    w_all = Window.partitionBy()
    w_cum = Window.orderBy(F.col("nation_rev").desc(), F.col("c_nationkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = F.sum("nation_rev").over(w_all)
    return nat.select(
        "c_nationkey",
        "nation_rev",
        "n_orders",
        F.round(F.col("nation_rev") / total, 6).alias("pct_of_total"),
        F.round(F.sum("nation_rev").over(w_cum) / total, 6).alias("cum_share"),
    )


@query(
    "agg-argminmax-battery",
    oracle="""
        SELECT c_nationkey,
               -- DECIMAL packing: hostile 1e10-scale balances overflow the
               -- BIGINT (cents * 1e7 > 2^63); decimal arithmetic is exact
               -- and wide enough on both engines
               arg_min(c_name, CAST(round(c_acctbal * 100) AS DECIMAL(30,0))
                               * 10000000 + c_custkey) AS poorest_customer,
               arg_max(c_name, CAST(round(c_acctbal * 100) AS DECIMAL(30,0))
                               * 10000000 + c_custkey) AS richest_customer,
               round(min(c_acctbal), 2) AS min_bal,
               round(max(c_acctbal), 2) AS max_bal
        FROM customer
        WHERE c_name IS NOT NULL AND c_acctbal IS NOT NULL
        GROUP BY c_nationkey
    """,
    doc="arg_min/arg_max (Spark min_by/max_by): the value of one column "
    "at another column's extremum, per group — the 'who, not just "
    "how much' aggregate that replaces a groupBy + self-join-back or "
    "a row_number window. The ordering key is made UNIQUE by packing "
    "(balance-in-cents, custkey) into one BIGINT: min_by on a tied "
    "key is engine- and partition-order-dependent, the classic "
    "nondeterminism bug in leaderboards (same discipline as "
    "timeseries-resample-ohlc's row_number ties). Single "
    "map-side-combined aggregate, state per group = one (key, value) "
    "pair per extremum.",
)
def agg_argminmax_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # engines disagree on NULL-skipping in arg extremes (DuckDB arg_min
    # drops rows where EITHER argument is NULL; Spark min_by only drops
    # a NULL ordering key) — exclude them explicitly on both sides
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_name").isNotNull() & F.col("c_acctbal").isNotNull()
    )
    # DECIMAL packing (not BIGINT): hostile 1e10-scale balances would
    # overflow cents * 1e7 past 2^63 and ANSI-kill the stage
    ordkey = (
        F.round(F.col("c_acctbal") * 100).cast("decimal(30,0)") * 10000000
        + F.col("c_custkey")
    )
    return c.groupBy("c_nationkey").agg(
        F.min_by("c_name", ordkey).alias("poorest_customer"),
        F.max_by("c_name", ordkey).alias("richest_customer"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


@query(
    "funnel-time-to-convert",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
                   min(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS first_purchase
            FROM events
            GROUP BY user_id
        ),
        converted AS (
            SELECT user_id,
                   CAST(date_diff('second', first_view, first_purchase) AS BIGINT)
                       AS secs_to_convert
            FROM firsts
            WHERE first_view IS NOT NULL
              AND first_purchase IS NOT NULL
              AND first_purchase > first_view
        )
        SELECT CAST(count(*) AS BIGINT) AS n_converted,
               CAST(min(secs_to_convert) AS BIGINT) AS min_secs,
               round(quantile_cont(secs_to_convert, 0.5), 2) AS median_secs,
               round(quantile_cont(secs_to_convert, 0.9), 2) AS p90_secs,
               round(avg(secs_to_convert), 2) AS mean_secs
        FROM converted
    """,
    doc="Time-to-convert distribution: first view -> first subsequent "
    "purchase per user, summarized as min/median/p90/mean seconds — "
    "the latency companion to funnel-conversion's rate view (how "
    "LONG the funnel takes, which rates can't show; a p90 of days "
    "with a median of minutes is a retargeting problem, not a "
    "product problem). Conditional min() aggregates collapse each "
    "user in ONE map-side-combined pass — no per-step join, no "
    "window sort — then exact interpolated percentiles over the "
    "converted cohort. At 100 TB the cohort relation is |users| "
    "rows; swap exact quantiles for approx_percentile if even that "
    "is wide.",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    converted = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") > F.col("first_view"))
    ).select(
        (
            F.unix_timestamp("first_purchase") - F.unix_timestamp("first_view")
        ).cast("long").alias("secs_to_convert")
    )
    return converted.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.min("secs_to_convert").cast("long").alias("min_secs"),
        F.round(F.percentile(F.col("secs_to_convert"), F.lit(0.5)), 2).alias(
            "median_secs"
        ),
        F.round(F.percentile(F.col("secs_to_convert"), F.lit(0.9)), 2).alias(
            "p90_secs"
        ),
        F.round(F.avg("secs_to_convert"), 2).alias("mean_secs"),
    )


@query(
    "analytics-new-vs-returning",
    oracle="""
        WITH user_days AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events
        ),
        tagged AS (
            SELECT day, user_id,
                   day = min(day) OVER (PARTITION BY user_id) AS is_new
            FROM user_days
        )
        SELECT day,
               CAST(count(*) FILTER (WHERE is_new) AS BIGINT) AS new_users,
               CAST(count(*) FILTER (WHERE NOT is_new) AS BIGINT)
                   AS returning_users,
               round(CAST(count(*) FILTER (WHERE NOT is_new) AS DOUBLE)
                     / count(*), 6) AS returning_share
        FROM tagged
        GROUP BY day
    """,
    doc="New-vs-returning daily split: each active (user, day) pair "
    "tagged by whether it is the user's FIRST day (unbounded min "
    "window per user), then a per-day FILTER-clause rollup — the "
    "growth-accounting companion to retention-cohorts (this is the "
    "diagonal of that cohort matrix) and rolling-active-users. The "
    "distinct pass and the window share the user_id partitioning, "
    "so the plan is one distinct shuffle + one window over it + one "
    "day-rollup; at 100 TB the (user, day) relation is the activity "
    "skeleton, orders of magnitude under the event stream.",
)
def analytics_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).distinct()
    tagged = user_days.withColumn(
        "is_new",
        F.col("day") == F.min("day").over(Window.partitionBy("user_id")),
    )
    return tagged.groupBy("day").agg(
        F.sum(F.when(F.col("is_new"), 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
        F.sum(F.when(~F.col("is_new"), 1).otherwise(0))
        .cast("long")
        .alias("returning_users"),
        F.round(
            F.sum(F.when(~F.col("is_new"), 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("returning_share"),
    )


@query(
    "analytics-conversion-ci",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
                   CAST(count(DISTINCT user_id)
                        FILTER (WHERE event_type = 'purchase') AS BIGINT)
                       AS buyers
            FROM events GROUP BY 1
        ),
        p AS (
            SELECT day, active_users, buyers,
                   CAST(buyers AS DOUBLE) / active_users AS phat,
                   CAST(active_users AS DOUBLE) AS n
            FROM daily WHERE active_users > 0
        )
        SELECT day, active_users, buyers,
               round(phat, 6) AS conv_rate,
               round((phat + 1.92072 / n
                      - 1.959964 * sqrt(phat * (1 - phat) / n
                                        + 0.9603686 / (n * n)))
                     / (1 + 3.841459 / n), 6) AS wilson_lo,
               round((phat + 1.92072 / n
                      + 1.959964 * sqrt(phat * (1 - phat) / n
                                        + 0.9603686 / (n * n)))
                     / (1 + 3.841459 / n), 6) AS wilson_hi
        FROM p
    """,
    doc="Daily buyer-conversion rate (distinct purchasing users over "
    "distinct active users - a true proportion, so phat <= 1 by "
    "construction) with Wilson 95% score intervals "
    "(z=1.959964; the interval that behaves at small n and extreme "
    "p, unlike the naive Wald +-1.96*sqrt(pq/n) which collapses to "
    "zero width at p=0) — the uncertainty band any conversion "
    "dashboard should draw before anyone reads day-to-day noise as "
    "movement. Both distinct counts share one two-stage "
    "partial-distinct pass over events; the interval is pure "
    "post-arithmetic on the collapsed |days| rows. Constants are "
    "z^2/2, z^2/4, z^2 spelled inline so both engines evaluate the "
    "identical expression tree.",
)
def analytics_conversion_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(
        F.countDistinct("user_id").cast("long").alias("active_users"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).cast("long").alias("buyers"),
    ).filter(F.col("active_users") > 0)
    n = F.col("active_users").cast("double")
    phat = F.col("buyers").cast("double") / n
    z, z2h, z2q, z2 = 1.959964, 1.92072, 0.9603686, 3.841459
    half = z * F.sqrt(phat * (1 - phat) / n + z2q / (n * n))
    denom = 1 + z2 / n
    return daily.select(
        "day",
        "active_users",
        "buyers",
        F.round(phat, 6).alias("conv_rate"),
        F.round((phat + z2h / n - half) / denom, 6).alias("wilson_lo"),
        F.round((phat + z2h / n + half) / denom, 6).alias("wilson_hi"),
    )


@query(
    "analytics-nrr",
    oracle="""
        WITH cust_month AS (
            SELECT o_custkey,
                   CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   round(sum(o_totalprice), 2) AS rev
            FROM orders GROUP BY 1, 2
        ),
        paired AS (
            SELECT cur.month,
                   prev.rev AS prev_rev,
                   cur2.rev AS retained_rev
            FROM (SELECT DISTINCT month FROM cust_month) cur
            JOIN cust_month prev
              ON prev.month = cur.month - INTERVAL 1 MONTH
            LEFT JOIN cust_month cur2
              ON cur2.o_custkey = prev.o_custkey AND cur2.month = cur.month
        )
        SELECT month,
               round(sum(prev_rev), 2) AS base_rev,
               round(coalesce(sum(retained_rev), 0), 2) AS retained_rev,
               round(coalesce(sum(retained_rev), 0) / sum(prev_rev), 6) AS nrr
        FROM paired
        GROUP BY month
    """,
    doc="Net revenue retention per month: revenue THIS month from the "
    "customers who paid LAST month, over last month's revenue — the "
    "SaaS health metric that separates expansion/contraction of the "
    "existing base from new-logo growth (new customers are excluded "
    "by construction; churned ones contribute zero via the left "
    "join). NRR > 1 means the installed base grows even with zero "
    "acquisition. Shape: one groupBy collapses orders to "
    "(customer, month) cells; the cohort pairing is a self-join of "
    "that summary on (customer, month-1) — cells are "
    "|customers|x|months|, orders of magnitude under the fact, and "
    "the month-shift join key keeps it an equi-join.",
)
def analytics_nrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust_month = o.groupBy(
        "o_custkey",
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month"),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev")).persist()
    # persist the per-(customer, month) revenue: the month spine and
    # both retention-join sides consume it — unpersisted each
    # re-planned the orders rollup (3 scans in the r11 before-plan)
    months = cust_month.select("month").distinct().select(
        F.col("month").alias("cur_month")
    )
    prev = cust_month.select(
        F.col("o_custkey").alias("p_cust"),
        F.col("month").alias("p_month"),
        F.col("rev").alias("prev_rev"),
    )
    cur2 = cust_month.select(
        F.col("o_custkey").alias("c_cust"),
        F.col("month").alias("c_month"),
        F.col("rev").alias("retained_rev"),
    )
    paired = (
        months.join(prev, F.add_months(F.col("p_month"), 1) == F.col("cur_month"))
        .join(
            cur2,
            (F.col("c_cust") == F.col("p_cust"))
            & (F.col("c_month") == F.col("cur_month")),
            "left",
        )
    )
    return paired.groupBy(F.col("cur_month").alias("month")).agg(
        F.round(F.sum("prev_rev"), 2).alias("base_rev"),
        F.round(F.coalesce(F.sum("retained_rev"), F.lit(0.0)), 2).alias(
            "retained_rev"
        ),
        F.round(
            F.coalesce(F.sum("retained_rev"), F.lit(0.0)) / F.sum("prev_rev"), 6
        ).alias("nrr"),
    )


@query(
    "analytics-cohort-ltv",
    oracle="""
        WITH first AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
            FROM events WHERE ts IS NOT NULL GROUP BY user_id
        ),
        sizes AS (
            SELECT cohort_day, count(*) AS n_users FROM first GROUP BY cohort_day
        ),
        p AS (
            SELECT f.cohort_day,
                   date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_index,
                   sum(e.value) AS rev
            FROM events e JOIN first f USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT p.cohort_day, CAST(p.day_index AS BIGINT) AS day_index,
               CAST(s.n_users AS BIGINT) AS n_users,
               round(sum(p.rev) OVER (PARTITION BY p.cohort_day
                                      ORDER BY p.day_index), 4) AS cum_revenue
        FROM p JOIN sizes s USING (cohort_day)
    """,
    doc="Cohort LTV curves: users cohorted by first-seen day, purchase "
    "revenue accumulated by days-since-first-seen — the standard "
    "'how much is a January-3rd signup worth by day 14' payback "
    "table. Two hash aggregations over events (first-seen, then "
    "(cohort, day_index) revenue) and the cumulative window runs on "
    "the cohort-x-index AGGREGATE (~900 rows), partitioned by "
    "cohort. The first-seen relation is per-user summary-sized, so "
    "the attach-cohort join broadcasts at any realistic user "
    "cardinality; at 100 TB the same plan holds with the first-seen "
    "side as a shuffle-hash join on user_id.",
    tags=("analytics",),
)
def analytics_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # persist the per-user cohort assignment: the cohort sizes and the
    # purchase join both re-consumed it (3 events scans -> 2); summary
    # cache width per session.cache_width
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    ).coalesce(cache_width(spark)).persist()
    sizes = first.groupBy("cohort_day").agg(F.count("*").alias("n_users"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(first), "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_index"),
        )
        .agg(F.sum("value").alias("rev"))
    )
    w = Window.partitionBy("cohort_day").orderBy("day_index")
    return p.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        F.col("day_index").cast("long").alias("day_index"),
        F.col("n_users").cast("long").alias("n_users"),
        F.round(F.sum("rev").over(w), 4).alias("cum_revenue"),
    )


@query(
    "analytics-stickiness",
    oracle="""
        WITH du AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        spine AS (SELECT DISTINCT day FROM du),
        dau AS (
            SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day
        ),
        mau AS (
            SELECT s.day, CAST(count(DISTINCT p.user_id) AS BIGINT) AS mau
            FROM spine s
            JOIN du p ON p.day BETWEEN s.day - INTERVAL 29 DAY AND s.day
            GROUP BY s.day
        )
        SELECT d.day, d.dau, m.mau,
               round(CAST(d.dau AS DOUBLE) / m.mau, 6) AS stickiness
        FROM dau d JOIN mau m ON d.day = m.day
        ORDER BY d.day
    """,
    doc="DAU/MAU stickiness per day: dau = distinct users that day, mau "
    "= distinct users in the trailing 30-day window (truncated at "
    "series start), ratio = the classic engagement metric. Sliding "
    "COUNT DISTINCT does not decompose into window partials, so the "
    "scale-safe shape is: facts collapse ONCE to distinct (day, "
    "user) pairs (one hash agg, map-side combinable), then the "
    "30-day re-aggregation is a range join against the ~30-row day "
    "spine — fan-out 30x the PAIR summary, never the fact table. "
    "At 100 TB swap the exact pair join for per-day HLL sketches "
    "merged over the trailing window (agg-sketch-merge shows the "
    "merge); the exact form here is the oracle-checkable twin.",
)
def analytics_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persist the distinct (day, user) pair summary: spine, dau and the
    # 30-day range-join probe all re-consumed it (3 events scans). The
    # dedup exchange stays keyed on (day, user) — the scale-safe spread
    # — and only the CACHED shape coalesces to summary width (r11's
    # attempt cached at the static 32-partition width and measured +50%;
    # see session.cache_width).
    du = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .coalesce(cache_width(spark))
        .persist()
    )
    spine = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    p = du.select(F.col("day").alias("pday"), "user_id")
    mau = (
        spine.join(
            p,
            (F.col("pday") <= F.col("day"))
            & (F.col("pday") >= F.date_sub(F.col("day"), 29)),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("mau"))
    )
    return (
        dau.join(mau, "day")
        .select(
            "day",
            "dau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau"), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "window-sequence-gaps",
    oracle="""
        WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders),
        nxt AS (
            SELECT k, lead(k) OVER (ORDER BY k) AS next_k FROM k
        )
        SELECT k + 1 AS gap_start, next_k - 1 AS gap_end,
               CAST(next_k - k - 1 AS BIGINT) AS gap_len
        FROM nxt WHERE next_k - k > 1
        ORDER BY gap_len DESC, gap_start
        LIMIT 100
    """,
    doc="Gaps-and-islands: the 100 largest missing ranges in the "
    "o_orderkey sequence. The oracle states it as the textbook "
    "global lead() — a single-partition sort of every key, dead at "
    "scale. The Spark plan computes the SAME answer two-level: "
    "keys bucket by k div 4096, lead() runs PARTITION-LOCAL within "
    "each bucket (parallel, co-sorted), and the only global window "
    "is over the per-bucket (min,max) summary to catch gaps that "
    "straddle bucket boundaries — bucket-interior gaps and "
    "boundary gaps partition the gap set exactly, so the union "
    "reproduces the naive answer. The standard turn-a-global-sort-"
    "into-a-bucketed-sort rewrite, here made oracle-provable.",
)
def window_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .withColumn("bucket", (F.col("k") / 4096).cast("long"))
    )
    wb = Window.partitionBy("bucket").orderBy("k")
    inner = (
        k.withColumn("next_k", F.lead("k").over(wb))
        .filter(F.col("next_k") - F.col("k") > 1)
        .select(
            (F.col("k") + 1).alias("gap_start"),
            (F.col("next_k") - 1).alias("gap_end"),
        )
    )
    summ = k.groupBy("bucket").agg(
        F.min("k").alias("min_k"), F.max("k").alias("max_k")
    )
    ws = Window.orderBy("bucket")
    boundary = (
        summ.withColumn("next_min", F.lead("min_k").over(ws))
        .filter(F.col("next_min") - F.col("max_k") > 1)
        .select(
            (F.col("max_k") + 1).alias("gap_start"),
            (F.col("next_min") - 1).alias("gap_end"),
        )
    )
    return (
        inner.unionByName(boundary)
        .select(
            "gap_start",
            "gap_end",
            (F.col("gap_end") - F.col("gap_start") + 1)
            .cast("long")
            .alias("gap_len"),
        )
        .orderBy(F.col("gap_len").desc(), "gap_start")
        .limit(100)
    )


@query(
    "analytics-event-study",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS m
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        pivoted AS (
            SELECT event_type, day, m,
                   min(day) OVER () + INTERVAL 14 DAY AS t0
            FROM daily
        ),
        sides AS (
            SELECT event_type,
                   CASE WHEN day >= t0 THEN 'post' ELSE 'pre' END AS side, m
            FROM pivoted
            WHERE day BETWEEN t0 - INTERVAL 7 DAY AND t0 + INTERVAL 6 DAY
        ),
        g AS (
            SELECT event_type,
                   -- count DEFINED daily means, not rows: a day whose
                   -- values are all NULL (gauntlet) has m = NULL and
                   -- contributes to neither the mean nor the variance,
                   -- so it must not inflate the Welch n either
                   count(CASE WHEN side = 'pre' THEN m END) AS n_pre,
                   count(CASE WHEN side = 'post' THEN m END) AS n_post,
                   avg(CASE WHEN side = 'pre' THEN m END) AS m_pre,
                   avg(CASE WHEN side = 'post' THEN m END) AS m_post,
                   var_samp(CASE WHEN side = 'pre' THEN m END) AS v_pre,
                   var_samp(CASE WHEN side = 'post' THEN m END) AS v_post
            FROM sides GROUP BY event_type
        )
        SELECT event_type,
               CAST(n_pre AS BIGINT) AS n_pre,
               CAST(n_post AS BIGINT) AS n_post,
               round(m_post - m_pre, 6) AS lift,
               round((m_post - m_pre)
                     / sqrt(v_pre / n_pre + v_post / n_post), 6) AS t_stat
        FROM g ORDER BY event_type
    """,
    doc="Event-study / intervention analysis: mean metric lift in the "
    "7 days after a pivot date (series start + 14d) vs the 7 days "
    "before, per event_type, with a Welch t on the daily means. The "
    "generic pre/post launch readout: one fact hash-agg to daily "
    "means, the pivot date derived by a window min over the summary "
    "(no second fact pass, no driver round-trip), conditional "
    "aggregation splits pre/post in one pass. At 100 TB the "
    "pre/post date filter pushes into the parquet scan when t0 is "
    "known ahead; here it stays data-derived to keep the op "
    "self-contained across SFs.",
)
def analytics_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("m")
    )
    pivoted = daily.withColumn(
        "t0", F.date_add(F.min("day").over(Window.partitionBy()), 14)
    )
    sides = pivoted.filter(
        (F.col("day") >= F.date_sub(F.col("t0"), 7))
        & (F.col("day") <= F.date_add(F.col("t0"), 6))
    ).select(
        "event_type",
        F.when(F.col("day") >= F.col("t0"), "post").otherwise("pre").alias(
            "side"
        ),
        "m",
    )
    pre = F.when(F.col("side") == "pre", F.col("m"))
    post = F.when(F.col("side") == "post", F.col("m"))
    g = sides.groupBy("event_type").agg(
        F.count(pre).alias("n_pre"),
        F.count(post).alias("n_post"),
        F.avg(pre).alias("m_pre"),
        F.avg(post).alias("m_post"),
        F.var_samp(pre).alias("v_pre"),
        F.var_samp(post).alias("v_post"),
    )
    return g.select(
        "event_type",
        F.col("n_pre").cast("long").alias("n_pre"),
        F.col("n_post").cast("long").alias("n_post"),
        F.round(F.col("m_post") - F.col("m_pre"), 6).alias("lift"),
        F.round(
            (F.col("m_post") - F.col("m_pre"))
            / F.sqrt(
                F.col("v_pre") / F.col("n_pre")
                + F.col("v_post") / F.col("n_post")
            ),
            6,
        ).alias("t_stat"),
    ).orderBy("event_type")


@query(
    "event-markov-stationary",
    oracle="""
        WITH seq AS (
            SELECT event_type AS i,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS j
            FROM events WHERE ts IS NOT NULL
        ),
        t AS (
            SELECT i, j,
                   count(*) / sum(count(*)) OVER (PARTITION BY i) AS p
            FROM seq WHERE j IS NOT NULL GROUP BY i, j
        ),
        p0 AS (
            SELECT i AS state, 1.0 / count(*) OVER () AS pi
            FROM (SELECT DISTINCT i FROM t)
        ),
        p1 AS (
            SELECT t.j AS state, sum(p0.pi * t.p) AS pi
            FROM p0 JOIN t ON t.i = p0.state GROUP BY t.j
        ),
        p2 AS (
            SELECT t.j AS state, sum(p1.pi * t.p) AS pi
            FROM p1 JOIN t ON t.i = p1.state GROUP BY t.j
        ),
        p3 AS (
            SELECT t.j AS state, sum(p2.pi * t.p) AS pi
            FROM p2 JOIN t ON t.i = p2.state GROUP BY t.j
        ),
        p4 AS (
            SELECT t.j AS state, sum(p3.pi * t.p) AS pi
            FROM p3 JOIN t ON t.i = p3.state GROUP BY t.j
        )
        SELECT state, round(pi / sum(pi) OVER (), 6) AS pi_stationary
        FROM p4 ORDER BY state
    """,
    doc="Stationary distribution of the per-user event Markov chain: "
    "four unrolled power-iteration steps pi <- pi*T from a uniform "
    "start, renormalized at the end (mass can leak if a state is "
    "absorbing-adjacent; renormalization keeps it a distribution). "
    "The fact table is touched ONCE to build the |types|^2 "
    "transition matrix (same lead() window as "
    "event-transition-matrix); every iteration is a join+groupBy "
    "over the <=25-cell matrix — the whole chain analysis is lazy, "
    "one Spark plan, no driver loop, because the state space (not "
    "the data) bounds the iteration cost. Where pi converges in a "
    "handful of steps this IS the steady-state next-action profile "
    "at any data scale.",
)
def event_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("i"),
        F.lead("event_type").over(w).alias("j"),
    ).filter(F.col("j").isNotNull())
    # persist the tiny transition matrix (|event_type|^2 rows): the
    # stationary-vector init AND all 4 power iterations consume it —
    # unpersisted each re-planned the full per-user lead window over
    # events (5 fact scans / 48 Exchanges in the r11 before-plan).
    t = (
        seq.groupBy("i", "j")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "p", F.col("n") / F.sum("n").over(Window.partitionBy("i"))
        )
        .select("i", "j", "p")
        .persist()
    )
    pi = t.select("i").distinct().withColumn(
        "pi", 1.0 / F.count("*").over(Window.partitionBy())
    ).withColumnRenamed("i", "state")
    for _ in range(4):
        pi = (
            pi.join(t, pi.state == t.i)
            .groupBy(F.col("j").alias("state2"))
            .agg(F.sum(F.col("pi") * F.col("p")).alias("pi"))
            .withColumnRenamed("state2", "state")
        )
    return pi.select(
        "state",
        F.round(
            F.col("pi") / F.sum("pi").over(Window.partitionBy()), 6
        ).alias("pi_stationary"),
    ).orderBy("state")


@query(
    "anomaly-alert-debounce",
    oracle="""
        WITH daily AS (
            -- NULL ts rows have no day to alert on: excluded on both
            -- engines (gauntlet interaction: the NULL-day pseudo-group
            -- can cross the z threshold, and its lag/debounce ordering
            -- is NULLS FIRST on Spark but NULLS LAST on DuckDB)
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS DOUBLE) AS x
            FROM events WHERE ts IS NOT NULL
            GROUP BY event_type, CAST(ts AS DATE)
        ),
        scored AS (
            SELECT event_type, day,
                   (x - avg(x) OVER (PARTITION BY event_type))
                   / stddev_samp(x) OVER (PARTITION BY event_type) AS z
            FROM daily
        ),
        alerts AS (
            SELECT event_type, day, z,
                   lag(day) OVER (PARTITION BY event_type ORDER BY day)
                       AS prev_alert
            FROM scored WHERE abs(z) > 1.5
        )
        SELECT event_type, day AS alert_day, round(z, 6) AS z,
               (prev_alert IS NULL
                OR date_diff('day', prev_alert, day) >= 3) AS fired
        FROM alerts ORDER BY event_type, alert_day
    """,
    doc="Alert debouncing over daily volume anomalies: days with "
    "|z| > 1.5 against the series mean become candidate alerts; an "
    "alert FIRES only if no candidate occurred in the previous 3 "
    "days (gap-based cooldown — the deterministic, window-"
    "expressible form of debounce: a candidate is suppressed iff "
    "its predecessor candidate is <3 days old, which a single "
    "lag() answers without iterative state). One fact hash-agg to "
    "the daily series; scoring and debouncing ride per-series "
    "windows over the ~30-row summaries, co-partitioned by series "
    "key — the alerting pattern every metrics monitor at scale "
    "needs to avoid paging 7 times for one incident.",
)
def anomaly_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("double").alias("x")
    )
    wt = Window.partitionBy("event_type")
    scored = daily.select(
        "event_type",
        "day",
        (
            (F.col("x") - F.avg("x").over(wt)) / F.stddev_samp("x").over(wt)
        ).alias("z"),
    )
    ws = Window.partitionBy("event_type").orderBy("day")
    alerts = scored.filter(F.abs("z") > 1.5).withColumn(
        "prev_alert", F.lag("day").over(ws)
    )
    return alerts.select(
        "event_type",
        F.col("day").alias("alert_day"),
        F.round("z", 6).alias("z"),
        (
            F.col("prev_alert").isNull()
            | (F.datediff(F.col("day"), F.col("prev_alert")) >= 3)
        ).alias("fired"),
    ).orderBy("event_type", "alert_day")


@query(
    "analytics-session-conversion",
    oracle="""
        WITH gaps AS (
            SELECT user_id, event_type, ts,
                   CASE WHEN ts - coalesce(lag(ts) OVER w, ts)
                             > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, event_type,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sid
            FROM gaps
        ),
        per_session AS (
            SELECT user_id, sid,
                   max(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS converted,
                   count(*) AS n_events
            FROM sess GROUP BY user_id, sid
        )
        SELECT CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(converted) AS BIGINT) AS n_converted,
               round(avg(CAST(converted AS DOUBLE)), 6)
                   AS session_conversion,
               round(avg(CAST(n_events AS DOUBLE)), 6)
                   AS avg_events_per_session
        FROM per_session
    """,
    doc="Session-level conversion rate: the 30-minute-gap "
    "sessionization (same two shared-sort windows as the "
    "`sessionize` op — gap flag via lag, session id via running "
    "sum) rolled up to per-session converted/size, then one "
    "scalar summary. Sessions never leave their user_id "
    "partition, so the whole pipeline is ONE shuffle on user_id "
    "plus a map-side-combinable agg — the canonical "
    "'rate per session, not per event' metric that corrects for "
    "activity skew. Ties on ts within a session keep determinism "
    "via the (ts, event_id) sort.",
)
def analytics_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # double, not long: long truncates microseconds and diverges from the
    # oracle's exact INTERVAL comparison on sub-second boundary gaps
    # (found by the r9 zipf skew axis on sessionize)
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    gaps = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.when(F.coalesce(gap, F.lit(0)) > 30 * 60, 1).otherwise(0).alias(
            "new_session"
        ),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = gaps.select(
        "user_id",
        "event_type",
        F.sum("new_session").over(wr).alias("sid"),
    )
    per_session = sess.groupBy("user_id", "sid").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
        F.count("*").alias("n_events"),
    )
    return per_session.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.round(F.avg(F.col("converted").cast("double")), 6).alias(
            "session_conversion"
        ),
        F.round(F.avg(F.col("n_events").cast("double")), 6).alias(
            "avg_events_per_session"
        ),
    )


@query(
    "event-audience-overlap",
    oracle="""
        WITH tu AS (
            SELECT DISTINCT event_type, user_id FROM events
        ),
        sizes AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n
            FROM tu GROUP BY event_type
        ),
        inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(count(*) AS BIGINT) AS n_both
            FROM tu a JOIN tu b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        )
        SELECT i.type_a, i.type_b, i.n_both,
               round(CAST(i.n_both AS DOUBLE)
                     / (sa.n + sb.n - i.n_both), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.event_type = i.type_a
        JOIN sizes sb ON sb.event_type = i.type_b
        ORDER BY i.type_a, i.type_b
    """,
    doc="Audience-overlap matrix: Jaccard similarity of user sets "
    "between every pair of event types — 'do clickers also "
    "purchase?' as set algebra. Facts collapse ONCE to distinct "
    "(type, user) pairs (hash agg, map-side combinable); the "
    "pairwise intersection is a self-join ON user_id — "
    "co-partitioned, each user contributes only its own types' "
    "pairs, fan-out bounded by |types|^2 per user — and set sizes "
    "join back broadcast. The same wedge shape as "
    "graph-jaccard-neighbors transposed to bipartite "
    "(type, user) membership. At 100 TB swap exact sets for "
    "per-type HLL sketches and inclusion-exclusion when even the "
    "distinct pairs are too hot.",
)
def event_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persist the distinct (type, user) relation CO-PARTITIONED on
    # user_id: hash(user_id) co-locates equal pairs so the dedup needs
    # no second exchange, and the audience self-join below reads both
    # sides from the cache with zero join exchanges (3 events scans ->
    # 1); summary cache width per session.cache_width
    tu = (
        ev.select("event_type", "user_id")
        .repartition(cache_width(spark), "user_id")
        .dropDuplicates(["event_type", "user_id"])
        .persist()
    )
    sizes = tu.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "analytics-growth-accounting",
    oracle="""
        WITH uw AS (
            SELECT DISTINCT user_id,
                   CAST(date_diff('day',
                        (SELECT min(CAST(ts AS DATE)) FROM events),
                        CAST(ts AS DATE)) // 7 AS BIGINT) AS wk
            FROM events
        ),
        first_wk AS (
            SELECT user_id, min(wk) AS fw FROM uw GROUP BY user_id
        ),
        labeled AS (
            SELECT u.user_id, u.wk, f.fw,
                   lag(u.wk) OVER (PARTITION BY u.user_id ORDER BY u.wk)
                       AS prev_wk
            FROM uw u JOIN first_wk f ON f.user_id = u.user_id
        ),
        states AS (
            SELECT wk,
                   CASE WHEN wk = fw THEN 'new'
                        WHEN prev_wk = wk - 1 THEN 'retained'
                        ELSE 'resurrected' END AS state
            FROM labeled
        ),
        churn AS (
            SELECT wk + 1 AS wk, 'churned' AS state
            FROM labeled
            WHERE (SELECT max(wk) FROM uw) >= wk + 1
              AND NOT EXISTS (
                  SELECT 1 FROM uw x
                  WHERE x.user_id = labeled.user_id AND x.wk = labeled.wk + 1
              )
        ),
        all_states AS (
            SELECT wk, state FROM states
            UNION ALL SELECT wk, state FROM churn
        )
        SELECT wk AS week,
               CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END)
                    AS BIGINT) AS new_users,
               CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
                    AS BIGINT) AS retained,
               CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
                    AS BIGINT) AS resurrected,
               CAST(sum(CASE WHEN state = 'churned' THEN 1 ELSE 0 END)
                    AS BIGINT) AS churned
        FROM all_states GROUP BY wk ORDER BY wk
    """,
    doc="Weekly growth accounting (the Social-Capital MAU decomposition "
    "new + retained + resurrected - churned): facts collapse once to "
    "distinct (user, week) pairs; each appearance classifies from "
    "its user's FIRST week (one hash agg) and PREVIOUS active week "
    "(one lag window inside the user partition) — new if first, "
    "retained if active last week, else resurrected — and churn "
    "events materialize as week+1 markers for actives with no "
    "successor week (anti-join shape via lead-absence, here spelled "
    "lag-forward). Everything after the pair dedup is "
    "summary-sized per user. The bookkeeping identity "
    "active_t = new_t + retained_t + resurrected_t holds by "
    "construction — an implicit self-check the parity test "
    "exercises.",
)
def analytics_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    # persist the two shared relations: uw (events scan + distinct
    # shuffle) feeds first_wk / labeled / max_wk / the anti-join probe,
    # and labeled feeds both the state labels and the churn anti-join —
    # unpersisted each consumer re-planned the full chain (12 events
    # scans / 50 Exchanges in the r11 before-plan). Both are (user,
    # week)-bounded; release_caches() reclaims them.
    uw = (
        ev.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            (F.datediff(F.to_date("ts"), F.col("d0")) / 7)
            .cast("long")
            .alias("wk"),
        )
        .distinct()
        .persist()
    )
    first_wk = uw.groupBy("user_id").agg(F.min("wk").alias("fw"))
    wlag = Window.partitionBy("user_id").orderBy("wk")
    labeled = uw.join(first_wk, "user_id").select(
        "user_id", "wk", "fw", F.lag("wk").over(wlag).alias("prev_wk")
    ).persist()
    states = labeled.select(
        "wk",
        F.when(F.col("wk") == F.col("fw"), "new")
        .when(F.col("prev_wk") == F.col("wk") - 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    max_wk = uw.agg(F.max("wk").alias("max_wk"))
    nxt_active = uw.select(
        F.col("user_id").alias("uid2"), F.col("wk").alias("wk2")
    )
    churn = (
        labeled.join(
            nxt_active,
            (labeled.user_id == F.col("uid2"))
            & (F.col("wk2") == labeled.wk + 1),
            "left_anti",
        )
        .crossJoin(F.broadcast(max_wk))
        .filter(F.col("max_wk") >= F.col("wk") + 1)
        .select((F.col("wk") + 1).alias("wk"), F.lit("churned").alias("state"))
    )
    all_states = states.unionByName(churn)
    return (
        all_states.groupBy(F.col("wk").alias("week"))
        .agg(
            F.sum(F.when(F.col("state") == "new", 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
            F.sum(F.when(F.col("state") == "retained", 1).otherwise(0))
            .cast("long")
            .alias("retained"),
            F.sum(F.when(F.col("state") == "resurrected", 1).otherwise(0))
            .cast("long")
            .alias("resurrected"),
            F.sum(F.when(F.col("state") == "churned", 1).otherwise(0))
            .cast("long")
            .alias("churned"),
        )
        .orderBy("week")
    )


@query(
    "event-entropy-rate",
    oracle="""
        WITH seq AS (
            SELECT event_type AS i,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS j
            FROM events WHERE ts IS NOT NULL
        ),
        t AS (
            SELECT i, j, CAST(count(*) AS DOUBLE) AS n
            FROM seq WHERE j IS NOT NULL GROUP BY i, j
        ),
        probs AS (
            SELECT i, j,
                   n / sum(n) OVER (PARTITION BY i) AS p,
                   sum(n) OVER (PARTITION BY i) / sum(n) OVER () AS pi
            FROM t
        ),
        row_ent AS (
            SELECT i, max(pi) AS pi,
                   -sum(p * ln(p)) AS h_row
            FROM probs GROUP BY i
        ),
        marg AS (
            SELECT -sum(pi * ln(pi)) AS h0,
                   sum(pi * h_row) AS h_rate
            FROM row_ent
        )
        SELECT round(h0, 6) AS entropy_marginal,
               round(h_rate, 6) AS entropy_rate,
               round(1 - h_rate / h0, 6) AS predictability_gain
        FROM marg
    """,
    doc="Entropy rate of the per-user event Markov chain: H_rate = "
    "sum_i pi_i * H(row_i) with the empirical visit distribution "
    "pi as weights, against the zeroth-order marginal entropy H0 "
    "— the gap (1 - H_rate/H0) is how much knowing the PREVIOUS "
    "action shrinks next-action uncertainty, i.e. whether a "
    "sequence model is worth building at all. One lead() window "
    "(sequences stay in their user partition) + one |types|^2 "
    "hash agg; all entropy algebra runs on the <=25-cell "
    "transition summary. Uses the empirical occupancy pi rather "
    "than the fixpoint eigenvector — consistent estimates of the "
    "same quantity, and window-expressible without iteration "
    "(event-markov-stationary computes the fixpoint twin).",
)
def event_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("i"),
        F.lead("event_type").over(w).alias("j"),
    ).filter(F.col("j").isNotNull())
    t = seq.groupBy("i", "j").agg(F.count("*").cast("double").alias("n"))
    wi = Window.partitionBy("i")
    wall = Window.partitionBy()
    probs = t.select(
        "i",
        "j",
        (F.col("n") / F.sum("n").over(wi)).alias("p"),
        (F.sum("n").over(wi) / F.sum("n").over(wall)).alias("pi"),
    )
    row_ent = probs.groupBy("i").agg(
        F.max("pi").alias("pi"),
        (-F.sum(F.col("p") * F.log("p"))).alias("h_row"),
    )
    return row_ent.agg(
        F.round(-F.sum(F.col("pi") * F.log("pi")), 6).alias(
            "entropy_marginal"
        ),
        F.round(F.sum(F.col("pi") * F.col("h_row")), 6).alias(
            "entropy_rate"
        ),
        F.round(
            1
            - F.sum(F.col("pi") * F.col("h_row"))
            / (-F.sum(F.col("pi") * F.log("pi"))),
            6,
        ).alias("predictability_gain"),
    )


@query(
    "analytics-hhi",
    oracle="""
        WITH rev AS (
            SELECT n.n_name AS nation, sum(o.o_totalprice) AS r
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        ),
        shares AS (
            SELECT nation, r / sum(r) OVER () AS s FROM rev
        )
        SELECT CAST(count(*) AS BIGINT) AS n_nations,
               round(sum(s * s) * 10000, 6) AS hhi,
               round(1.0 / sum(s * s), 6) AS effective_n,
               round(max(s), 6) AS top_share
        FROM shares
    """,
    doc="Herfindahl-Hirschman concentration index of revenue by "
    "customer nation (x10000 on the antitrust scale; <1500 "
    "unconcentrated, >2500 concentrated), plus the effective "
    "number of nations 1/sum(s^2) — the inverse-Simpson "
    "diversity — and the top share. One FK-chain join with the "
    "dims broadcast, one hash agg to 25 nation rows, shares via "
    "a window over the summary. The market-structure readout of "
    "the same aggregate abc-revenue-deciles ranks; at 100 TB the "
    "only fact-sized cost is the orders scan.",
)
def analytics_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum("o_totalprice").alias("r"))
    )
    shares = rev.select(
        "nation", (F.col("r") / F.sum("r").over(Window.partitionBy())).alias("s")
    )
    return shares.agg(
        F.count("*").cast("long").alias("n_nations"),
        F.round(F.sum(F.col("s") * F.col("s")) * 10000, 6).alias("hhi"),
        F.round(1.0 / F.sum(F.col("s") * F.col("s")), 6).alias(
            "effective_n"
        ),
        F.round(F.max("s"), 6).alias("top_share"),
    )


@query(
    "event-dwell-time",
    oracle="""
        WITH seq AS (
            SELECT event_type,
                   date_diff('second', ts,
                       lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)) AS dwell
            FROM events
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(quantile_cont(CAST(dwell AS DOUBLE), 0.5), 4) AS p50_sec,
               round(quantile_cont(CAST(dwell AS DOUBLE), 0.9), 4) AS p90_sec,
               round(avg(dwell), 4) AS mean_sec
        FROM seq
        WHERE dwell IS NOT NULL AND dwell BETWEEN 1 AND 1800
        GROUP BY event_type ORDER BY event_type
    """,
    doc="Dwell-time distribution per event type: time until the "
    "user's NEXT action (lead within the user partition — "
    "sequences never leave their shuffle partition) as the "
    "engagement proxy, summarized as p50/p90/mean per type with "
    "a 1s-30min validity window (0s = duplicate instrumentation, "
    ">30min = session boundary, both excluded — the same gap "
    "threshold sessionize uses). One window shuffle + one hash "
    "agg; exact interpolated percentiles per group (percentile "
    "<-> quantile_cont), swap for approx_percentile's sketch at "
    "100 TB. The per-surface engagement readout behind every "
    "'time on page' dashboard.",
)
def event_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        (
            F.lead(F.col("ts").cast("long")).over(w)
            - F.col("ts").cast("long")
        ).alias("dwell"),
    )
    return (
        seq.filter(
            F.col("dwell").isNotNull()
            & (F.col("dwell") >= 1)
            & (F.col("dwell") <= 1800)
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(
                F.expr("percentile(CAST(dwell AS DOUBLE), 0.5)"), 4
            ).alias("p50_sec"),
            F.round(
                F.expr("percentile(CAST(dwell AS DOUBLE), 0.9)"), 4
            ).alias("p90_sec"),
            F.round(F.avg("dwell"), 4).alias("mean_sec"),
        )
        .orderBy("event_type")
    )


@query(
    "event-next-action-baseline",
    oracle="""
        WITH seq AS (
            SELECT event_type AS i,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS j
            FROM events WHERE ts IS NOT NULL
        ),
        t AS (
            SELECT i, j, CAST(count(*) AS DOUBLE) AS n
            FROM seq WHERE j IS NOT NULL GROUP BY i, j
        ),
        best AS (
            SELECT i, j AS predicted_next, n,
                   sum(n) OVER (PARTITION BY i) AS row_n,
                   sum(n) OVER () AS total,
                   row_number() OVER (PARTITION BY i
                                      ORDER BY n DESC, j) AS rk
            FROM t
        )
        SELECT i AS current_action, predicted_next,
               round(n / row_n, 6) AS hit_rate,
               round(row_n / total, 6) AS support
        FROM best WHERE rk = 1 ORDER BY i
    """,
    doc="Majority-class next-action baseline: for each current event "
    "type, the most likely next action and its hit rate — the "
    "floor any sequence model must beat, and with "
    "event-entropy-rate the full 'is a model worth it' readout "
    "(overall baseline accuracy = sum(support * hit_rate)). Same "
    "single lead() window + |types|^2 hash agg as "
    "event-transition-matrix; the argmax per row is a "
    "WindowGroupLimit-prunable rank over the 25-cell summary "
    "with a deterministic (count, label) tie-break.",
)
def event_next_action_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("i"),
        F.lead("event_type").over(w).alias("j"),
    ).filter(F.col("j").isNotNull())
    t = seq.groupBy("i", "j").agg(F.count("*").cast("double").alias("n"))
    wi = Window.partitionBy("i")
    wall = Window.partitionBy()
    wrk = Window.partitionBy("i").orderBy(F.col("n").desc(), "j")
    best = t.select(
        "i",
        F.col("j").alias("predicted_next"),
        "n",
        F.sum("n").over(wi).alias("row_n"),
        F.sum("n").over(wall).alias("total"),
        F.row_number().over(wrk).alias("rk"),
    )
    return (
        best.filter(F.col("rk") == 1)
        .select(
            F.col("i").alias("current_action"),
            "predicted_next",
            F.round(F.col("n") / F.col("row_n"), 6).alias("hit_rate"),
            F.round(F.col("row_n") / F.col("total"), 6).alias("support"),
        )
        .orderBy("current_action")
    )


@query(
    "analytics-retention-decay-fit",
    oracle="""
        WITH p AS (
            SELECT user_id, CAST(ts AS DATE) AS day FROM events
            WHERE event_type = 'purchase'
        ),
        firsts AS (
            SELECT user_id, min(day) AS d0 FROM p GROUP BY user_id
        ),
        maxd AS (SELECT max(CAST(ts AS DATE)) AS md FROM events),
        activity AS (
            SELECT DISTINCT p.user_id,
                   CAST(date_diff('day', f.d0, p.day) AS BIGINT) AS age
            FROM p JOIN firsts f ON f.user_id = p.user_id
        ),
        cohorts AS (
            SELECT d0, CAST(count(*) AS DOUBLE) AS size,
                   CAST(date_diff('day', d0, md) AS BIGINT) AS capacity
            FROM firsts, maxd GROUP BY d0, md
        ),
        ages AS (SELECT DISTINCT age FROM activity WHERE age >= 1),
        observable AS (
            SELECT a.age, sum(c.size) AS denom
            FROM ages a JOIN cohorts c ON c.capacity >= a.age
            GROUP BY a.age
        ),
        active AS (
            SELECT age, CAST(count(*) AS DOUBLE) AS numer
            FROM activity WHERE age >= 1 GROUP BY age
        ),
        pts AS (
            SELECT ln(CAST(o.age AS DOUBLE)) AS lx,
                   ln(a.numer / o.denom) AS ly
            FROM observable o JOIN active a ON a.age = o.age
            WHERE a.numer > 0 AND a.numer < o.denom
        )
        SELECT CAST(count(*) AS BIGINT) AS n_ages,
               round((sum(lx * ly) - sum(lx) * sum(ly) / count(*))
                     / (sum(lx * lx) - sum(lx) * sum(lx) / count(*)), 6)
                   AS decay_exponent,
               round(exp((sum(ly) - (sum(lx * ly) - sum(lx) * sum(ly)
                                     / count(*))
                                    / (sum(lx * lx) - sum(lx) * sum(lx)
                                       / count(*)) * sum(lx))
                         / count(*)), 6) AS day1_retention_fit
        FROM pts
    """,
    doc="Power-law fit of the purchase-retention decay curve r(t) ~ "
    "K * t^(-beta) at DAILY granularity (age = days since first "
    "purchase): retention at age t uses a right-censoring-aware "
    "denominator — only cohorts old enough to be observed at age "
    "t count, because a naive all-users denominator fakes decay "
    "at the series edge — and the decay exponent comes from the "
    "closed-form log-log regression, the number LTV projection "
    "extrapolates with (sum over t of K*t^-beta). One first-"
    "touch agg, one fact join, a cohort x age capacity join over "
    "summary relations, one regression aggregation; the same "
    "no-iteration curve-fit shape as text-heaps-law and "
    "timeseries-hurst-rs.",
)
def analytics_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("day")
    )
    # persist the two shared per-user relations: firsts feeds the
    # activity join AND the cohort rollup, activity feeds the age
    # universe AND the active counts — unpersisted each consumer
    # re-planned the purchase scan + rollups (6 events scans / 28
    # Exchanges in the r11 before-plan).
    firsts = p.groupBy("user_id").agg(F.min("day").alias("d0")).persist()
    maxd = ev.agg(F.max(F.to_date("ts")).alias("md"))
    activity = (
        p.join(firsts, "user_id")
        .select("user_id", F.datediff(F.col("day"), F.col("d0")).cast("long").alias("age"))
        .distinct()
        .persist()
    )
    cohorts = (
        firsts.crossJoin(F.broadcast(maxd))
        .groupBy("d0", "md")
        .agg(F.count("*").cast("double").alias("size"))
        .select(
            "d0",
            "size",
            F.datediff(F.col("md"), F.col("d0")).cast("long").alias("capacity"),
        )
    )
    ages = activity.filter(F.col("age") >= 1).select("age").distinct()
    observable = (
        ages.join(F.broadcast(cohorts), F.col("capacity") >= F.col("age"))
        .groupBy("age")
        .agg(F.sum("size").alias("denom"))
    )
    active = (
        activity.filter(F.col("age") >= 1)
        .groupBy("age")
        .agg(F.count("*").cast("double").alias("numer"))
    )
    pts = (
        observable.join(active, "age")
        .filter((F.col("numer") > 0) & (F.col("numer") < F.col("denom")))
        .select(
            F.log(F.col("age").cast("double")).alias("lx"),
            F.log(F.col("numer") / F.col("denom")).alias("ly"),
        )
    )
    n = F.count("*")
    sxy = F.sum(F.col("lx") * F.col("ly")) - F.sum("lx") * F.sum("ly") / n
    sxx = F.sum(F.col("lx") * F.col("lx")) - F.sum("lx") * F.sum("lx") / n
    beta = sxy / sxx
    intercept = (F.sum("ly") - beta * F.sum("lx")) / n
    return pts.agg(
        n.cast("long").alias("n_ages"),
        F.round(beta, 6).alias("decay_exponent"),
        F.round(F.exp(intercept), 6).alias("day1_retention_fit"),
    )


@query(
    "analytics-lift-chart",
    oracle="""
        WITH per_user AS (
            SELECT user_id, avg(value) AS score,
                   max(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS converted
            FROM events GROUP BY user_id
        ),
        ranked AS (
            SELECT ntile(10) OVER (ORDER BY score DESC, user_id) AS decile,
                   converted
            FROM per_user
        ),
        byd AS (
            SELECT decile, CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(converted) AS DOUBLE) AS conv
            FROM ranked GROUP BY decile
        ),
        tot AS (
            SELECT sum(n) AS tn, sum(conv) AS tc FROM byd
        )
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(n AS BIGINT) AS n_users,
               round(conv / n, 6) AS conversion_rate,
               round((conv / n) / (tc / tn), 6) AS lift,
               round(sum(conv) OVER (ORDER BY decile) / tc, 6)
                   AS cum_gain
        FROM byd, tot ORDER BY decile
    """,
    doc="Decile lift-and-gains chart: users ranked by mean event value "
    "as a targeting score, split into deciles, each reporting its "
    "conversion rate, lift over the base rate, and cumulative "
    "gain (what fraction of all converters the top-k deciles "
    "capture) — the campaign-targeting readout that tells you to "
    "mail deciles 1-3 and skip the rest. Per-user rollup is one "
    "hash agg; the ntile runs over the ~150-row user summary "
    "with a deterministic (score, user_id) tie-break; lift and "
    "gains are windows over 10 rows. The business-facing "
    "companion to stats-roc-auc-binned on the same score.",
)
def analytics_lift_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.ranking import (
        exact_ntile,
        with_global_order,
    )

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.avg("value").alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    # exact rank from a range sort (operators/ranking.py) instead of an
    # ntile global window over the per-user frame (grows with the
    # data). The per-user running sum of conversions in score order is
    # monotone, so each decile's cumulative gain is simply the MAX of
    # the running sum inside the decile — no window over deciles either.
    g = with_global_order(
        per_user,
        "score",
        ascending=False,
        tiebreakers=("user_id",),
        rn="__rn",
        cum_sums={"cum_conv": "converted"},
        total_count="tn",
        total_sums={"tc": "converted"},
    )
    ranked = g.select(
        exact_ntile(F.col("__rn"), F.col("tn"), 10).alias("decile"),
        "converted",
        "cum_conv",
        "tn",
        "tc",
    )
    byd = ranked.groupBy("decile").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("converted").cast("double").alias("conv"),
        F.max("cum_conv").alias("cum_c"),
        F.max("tn").cast("double").alias("tn"),
        F.max("tc").alias("tc"),
    )
    return byd.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n").cast("long").alias("n_users"),
        F.round(F.col("conv") / F.col("n"), 6).alias("conversion_rate"),
        F.round(
            (F.col("conv") / F.col("n")) / (F.col("tc") / F.col("tn")), 6
        ).alias("lift"),
        F.round(F.col("cum_c") / F.col("tc"), 6).alias("cum_gain"),
    ).orderBy("decile")


@query(
    "analytics-session-paths",
    oracle="""
        WITH gaps AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN ts - coalesce(lag(ts) OVER w, ts)
                             > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM (SELECT DISTINCT user_id, event_type, ts, event_id
                  FROM events WHERE ts IS NOT NULL) base
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, event_type, ts, event_id,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts,
                       event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
                       CURRENT ROW) AS sid
            FROM gaps
        ),
        paths AS (
            SELECT user_id, sid,
                   string_agg(event_type, ' > ' ORDER BY ts, event_id)
                       AS path
            FROM sess GROUP BY user_id, sid
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        FROM paths
        WHERE path IS NOT NULL AND len(string_split(path, ' > ')) <= 4
        GROUP BY path
        ORDER BY n_sessions DESC, path
        LIMIT 15
    """,
    doc="Top session journey paths: the 30-minute sessionization "
    "(shared machinery with `sessionize`), each session's ordered "
    "event-type sequence collapsed to a ' > ' path string via "
    "ORDER-BY string aggregation (Spark: sort structs then "
    "concat — collect order is partition-dependent, sorting "
    "before joining is the determinism discipline "
    "agg-collect-sorted pins), short paths (<=4 steps) counted "
    "and ranked. The exploratory complement to funnel-conversion: "
    "funnels test a hypothesized path, this surfaces the paths "
    "users actually take. One user_id window shuffle + one "
    "(user, session) agg + one path-keyed count.",
)
def analytics_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .dropDuplicates(["event_id"])
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # double, not long: long truncates microseconds and diverges from the
    # oracle's exact INTERVAL comparison on sub-second boundary gaps
    # (found by the r9 zipf skew axis on sessionize)
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    gaps = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(F.coalesce(gap, F.lit(0)) > 30 * 60, 1).otherwise(0).alias(
            "new_session"
        ),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = gaps.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum("new_session").over(wr).alias("sid"),
    )
    types = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
        lambda s: s["event_type"],
    )
    # NULL path ONLY when every type in the session is NULL (string_agg
    # yields NULL there; array_join would render ''): a genuine ''
    # event_type (hostile fixture) is a REAL value whose path both
    # engines keep — the earlier `path != ''` cut conflated the two.
    paths = sess.groupBy("user_id", "sid").agg(
        F.when(
            F.exists(types, lambda t: t.isNotNull()),
            F.array_join(types, " > "),
        ).alias("path")
    )
    return (
        paths.filter(
            F.col("path").isNotNull()
            & (F.size(F.split("path", " > ", -1)) <= 4)
        )
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(15)
    )


@query(
    "attribution-position-based",
    oracle="""
        WITH purchases AS (
            SELECT user_id, ts AS p_ts, event_id AS p_id
            FROM events WHERE event_type = 'purchase'
        ),
        touches AS (
            SELECT e.user_id, e.event_type, e.ts, e.event_id,
                   p.p_ts, p.p_id
            FROM events e
            JOIN purchases p ON p.user_id = e.user_id
             AND e.ts >= p.p_ts - INTERVAL 24 HOUR AND e.ts < p.p_ts
            WHERE e.event_type IN ('click', 'view', 'signup')
        ),
        ranked AS (
            SELECT event_type, p_id,
                   row_number() OVER (PARTITION BY p_id
                                      ORDER BY ts, event_id) AS pos,
                   count(*) OVER (PARTITION BY p_id) AS n_touch
            FROM touches
        ),
        credited AS (
            SELECT event_type,
                   CASE WHEN n_touch = 1 THEN 1.0
                        WHEN n_touch = 2 THEN 0.5
                        WHEN pos = 1 THEN 0.4
                        WHEN pos = n_touch THEN 0.4
                        ELSE 0.2 / (n_touch - 2) END AS credit
            FROM ranked
        )
        SELECT event_type,
               round(sum(credit), 4) AS attributed_conversions,
               CAST(count(*) AS BIGINT) AS n_touches
        FROM credited GROUP BY event_type ORDER BY event_type
    """,
    doc="Position-based (U-shaped 40/20/40) multi-touch attribution: "
    "every touchpoint in the 24h window before a purchase gets "
    "credit — 40% first touch, 40% last, the middle 20% split "
    "evenly — so channel totals sum exactly to conversions (the "
    "conservation property single-touch models get for free and "
    "multi-touch models must prove; the parity check enforces "
    "it). Touch windows via a time-range join on the user key "
    "(co-partitioned, bounded by the 24h lookback), position via "
    "one window per conversion, credit as pure codegen CASE. The "
    "multi-touch upgrade of attribution-last-touch on the same "
    "touch relation.",
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    touches = ev.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (
            F.col("ts")
            >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")
        )
        & (F.col("ts") < F.col("p_ts")),
    )
    wp = Window.partitionBy("p_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("p_id")
    ranked = touches.select(
        "event_type",
        "p_id",
        F.row_number().over(wp).alias("pos"),
        F.count("*").over(wn).alias("n_touch"),
    )
    credit = (
        F.when(F.col("n_touch") == 1, 1.0)
        .when(F.col("n_touch") == 2, 0.5)
        .when(F.col("pos") == 1, 0.4)
        .when(F.col("pos") == F.col("n_touch"), 0.4)
        .otherwise(0.2 / (F.col("n_touch") - 2))
    )
    return (
        ranked.select("event_type", credit.alias("credit"))
        .groupBy("event_type")
        .agg(
            F.round(F.sum("credit"), 4).alias("attributed_conversions"),
            F.count("*").cast("long").alias("n_touches"),
        )
        .orderBy("event_type")
    )


@query(
    "analytics-revenue-decomposition",
    oracle="""
        WITH weekly AS (
            SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
                   CAST(count(DISTINCT o_custkey) AS DOUBLE) AS buyers,
                   CAST(count(*) AS DOUBLE) AS orders_,
                   sum(o_totalprice) AS revenue
            FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
        ),
        lagged AS (
            SELECT wk, buyers, orders_, revenue,
                   lag(buyers) OVER (ORDER BY wk) AS pb,
                   lag(orders_) OVER (ORDER BY wk) AS po,
                   lag(revenue) OVER (ORDER BY wk) AS pr
            FROM weekly
        )
        SELECT wk AS week,
               round(ln(revenue / pr) * 100, 4) AS revenue_growth_logpct,
               round(ln(buyers / pb) * 100, 4) AS buyers_contrib,
               round(ln((orders_ / buyers) / (po / pb)) * 100, 4)
                   AS frequency_contrib,
               round(ln((revenue / orders_) / (pr / po)) * 100, 4)
                   AS aov_contrib
        FROM lagged WHERE pr IS NOT NULL ORDER BY wk
    """,
    doc="Multiplicative revenue-growth decomposition: revenue = "
    "buyers x orders-per-buyer x average-order-value, so weekly "
    "log-growth splits EXACTLY into three additive "
    "contributions (ln turns the product into a sum — the "
    "decomposition identity revenue_growth = buyers_contrib + "
    "frequency_contrib + aov_contrib holds to the last bit, and "
    "the parity hash enforces it). Answers 'did revenue move "
    "because of more buyers, more frequent buying, or bigger "
    "baskets' in one plan: a weekly multi-distinct agg and lag "
    "windows over the ~5-row weekly summary.",
)
def analytics_revenue_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    weekly = o.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("wk")
    ).agg(
        F.countDistinct("o_custkey").cast("double").alias("buyers"),
        F.count("*").cast("double").alias("orders_"),
        F.sum("o_totalprice").alias("revenue"),
    )
    w = Window.orderBy("wk")
    lagged = weekly.select(
        "wk",
        "buyers",
        "orders_",
        "revenue",
        F.lag("buyers").over(w).alias("pb"),
        F.lag("orders_").over(w).alias("po"),
        F.lag("revenue").over(w).alias("pr"),
    ).filter(F.col("pr").isNotNull())
    return lagged.select(
        F.col("wk").alias("week"),
        F.round(F.log(F.col("revenue") / F.col("pr")) * 100, 4).alias(
            "revenue_growth_logpct"
        ),
        F.round(F.log(F.col("buyers") / F.col("pb")) * 100, 4).alias(
            "buyers_contrib"
        ),
        F.round(
            F.log(
                (F.col("orders_") / F.col("buyers"))
                / (F.col("po") / F.col("pb"))
            )
            * 100,
            4,
        ).alias("frequency_contrib"),
        F.round(
            F.log(
                (F.col("revenue") / F.col("orders_"))
                / (F.col("pr") / F.col("po"))
            )
            * 100,
            4,
        ).alias("aov_contrib"),
    ).orderBy("week")


@query(
    "analytics-segment-migration",
    oracle="""
        WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        halves AS (
            SELECT user_id,
                   CASE WHEN CAST(ts AS DATE) < d0 + INTERVAL 14 DAY
                        THEN 'p1' ELSE 'p2' END AS period,
                   value, event_type
            FROM events, span
        ),
        scored AS (
            SELECT user_id, period,
                   sum(CASE WHEN event_type = 'purchase'
                            THEN value ELSE 0 END) AS spend
            FROM halves GROUP BY user_id, period
        ),
        seg AS (
            SELECT user_id, period,
                   CASE WHEN spend = 0 THEN 'dormant'
                        WHEN spend < 50 THEN 'low'
                        WHEN spend < 200 THEN 'mid'
                        ELSE 'high' END AS segment
            FROM scored
        ),
        mat AS (
            SELECT coalesce(a.segment, 'absent') AS seg_from,
                   coalesce(b.segment, 'absent') AS seg_to,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM (SELECT user_id, segment FROM seg WHERE period = 'p1') a
            FULL OUTER JOIN
                 (SELECT user_id, segment FROM seg WHERE period = 'p2') b
              ON a.user_id = b.user_id
            GROUP BY 1, 2
        )
        SELECT seg_from, seg_to, n_users,
               round(n_users / sum(n_users)
                     OVER (PARTITION BY seg_from), 6) AS p_migrate
        FROM mat ORDER BY seg_from, seg_to
    """,
    doc="Customer segment-migration matrix: users bucketed by purchase "
    "spend (dormant/low/mid/high) in the first vs second half of "
    "the window, full-outer-joined on user so appearing/"
    "disappearing users land in an 'absent' segment instead of "
    "silently vanishing (the bookkeeping every migration matrix "
    "gets wrong first), then row-normalized migration "
    "probabilities. The engine behind 'X% of high-value "
    "customers downgraded' alerts: two conditional hash aggs, "
    "one user-keyed full-outer join, one |segments|^2 summary. "
    "Threshold constants stand in for the quantile cuts "
    "analytics-rfm derives data-dependently.",
)
def analytics_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    halves = ev.crossJoin(F.broadcast(span)).select(
        "user_id",
        F.when(
            F.to_date("ts") < F.date_add(F.col("d0"), 14), "p1"
        ).otherwise("p2").alias("period"),
        "value",
        "event_type",
    )
    scored = halves.groupBy("user_id", "period").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            )
        ).alias("spend")
    )
    # NOTE(r11): persisting seg (4 scans -> 2) was tried and REVERTED —
    # the conf-off sweep measured +29%; the rollup replans are cheaper
    # than the cache machinery.
    seg = scored.select(
        "user_id",
        "period",
        F.when(F.col("spend") == 0, "dormant")
        .when(F.col("spend") < 50, "low")
        .when(F.col("spend") < 200, "mid")
        .otherwise("high")
        .alias("segment"),
    )
    a = seg.filter(F.col("period") == "p1").select(
        "user_id", F.col("segment").alias("seg_a")
    )
    b = seg.filter(F.col("period") == "p2").select(
        F.col("user_id").alias("uid_b"), F.col("segment").alias("seg_b")
    )
    mat = (
        a.join(b, a.user_id == b.uid_b, "full_outer")
        .select(
            F.coalesce(F.col("seg_a"), F.lit("absent")).alias("seg_from"),
            F.coalesce(F.col("seg_b"), F.lit("absent")).alias("seg_to"),
        )
        .groupBy("seg_from", "seg_to")
        .agg(F.count("*").cast("long").alias("n_users"))
    )
    wf = Window.partitionBy("seg_from")
    return mat.select(
        "seg_from",
        "seg_to",
        "n_users",
        F.round(F.col("n_users") / F.sum("n_users").over(wf), 6).alias(
            "p_migrate"
        ),
    ).orderBy("seg_from", "seg_to")


@query(
    "analytics-pareto-point",
    oracle="""
        WITH rev AS (
            SELECT o_custkey, sum(o_totalprice) AS r
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT r,
                   row_number() OVER (ORDER BY r DESC, o_custkey) AS rk,
                   count(*) OVER () AS n,
                   sum(r) OVER () AS tot
            FROM rev
        ),
        cum AS (
            SELECT rk, n,
                   sum(r) OVER (ORDER BY rk) / tot AS cum_share
            FROM ranked
        )
        SELECT CAST(min(n) AS BIGINT) AS n_customers,
               CAST(min(CASE WHEN cum_share >= 0.8 THEN rk END)
                    AS BIGINT) AS customers_for_80pct,
               round(CAST(min(CASE WHEN cum_share >= 0.8 THEN rk END)
                          AS DOUBLE) / min(n), 6) AS pareto_fraction
        FROM cum
    """,
    doc="The Pareto point: the smallest top-k customer set whose "
    "cumulative revenue crosses 80%, as a count and as a "
    "fraction of the customer base — the single number behind "
    "'X% of customers drive 80% of revenue', sharper than "
    "abc-revenue-deciles' ntile buckets because it reports the "
    "exact crossing rank. Ranking and the cumulative share run "
    "over the per-customer SUMMARY (one fact hash agg first); "
    "the crossing rank is min-over-threshold, no second scan. "
    "Reads together with agg-gini-coefficient and "
    "stats-lorenz-asymmetry as the concentration triptych.",
)
def analytics_pareto_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.ranking import with_global_order

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("r"))
    # exact rank + running sum from a range sort (operators/ranking.py):
    # the per-customer frame grows with the data, so a global window
    # would serialize it through one task at scale.
    cum = with_global_order(
        rev,
        "r",
        ascending=False,
        tiebreakers=("o_custkey",),
        rn="rk",
        cum_sums={"cum_r": "r"},
        total_count="n",
        total_sums={"tot": "r"},
    ).select(
        "rk",
        "n",
        (F.col("cum_r") / F.col("tot")).alias("cum_share"),
    )
    crossing = F.min(F.when(F.col("cum_share") >= 0.8, F.col("rk")))
    return cum.agg(
        F.min("n").cast("long").alias("n_customers"),
        crossing.cast("long").alias("customers_for_80pct"),
        F.round(crossing.cast("double") / F.min("n"), 6).alias(
            "pareto_fraction"
        ),
    )


@query(
    "analytics-fulfillment-latency",
    oracle="""
        WITH lat AS (
            SELECT date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days,
                   CAST(date_trunc('month', o.o_orderdate) AS DATE) AS mth
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT mth,
               CAST(count(*) AS BIGINT) AS n_lineitems,
               round(quantile_cont(CAST(lag_days AS DOUBLE), 0.5), 4)
                   AS p50_days,
               round(quantile_cont(CAST(lag_days AS DOUBLE), 0.95), 4)
                   AS p95_days,
               round(avg(lag_days), 4) AS mean_days
        FROM lat GROUP BY mth ORDER BY mth
    """,
    doc="Order-to-ship fulfillment latency by order month: the "
    "operational SLA readout (p50/p95/mean days from order "
    "placement to line shipment) that a logistics dashboard "
    "tracks for degradation. One fact-fact key join "
    "(co-partitioned on orderkey — the join every TPC-H query "
    "pays), one hash agg to per-month cells with exact "
    "interpolated percentiles (approx_percentile's sketch at "
    "100 TB, where per-month t-digests also merge incrementally "
    "as new days land — the rollup-incremental-merge pattern "
    "applied to latency SLOs).",
)
def analytics_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
            "lag_days"
        ),
        F.date_trunc("month", "o_orderdate").cast("date").alias("mth"),
    )
    return (
        lat.groupBy("mth")
        .agg(
            F.count("*").cast("long").alias("n_lineitems"),
            F.round(
                F.expr("percentile(CAST(lag_days AS DOUBLE), 0.5)"), 4
            ).alias("p50_days"),
            F.round(
                F.expr("percentile(CAST(lag_days AS DOUBLE), 0.95)"), 4
            ).alias("p95_days"),
            F.round(F.avg("lag_days"), 4).alias("mean_days"),
        )
        .orderBy("mth")
    )


@query(
    "analytics-ltv-projection",
    oracle="""
        WITH p AS (
            SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
            WHERE event_type = 'purchase'
        ),
        firsts AS (
            SELECT user_id, min(day) AS d0 FROM p GROUP BY user_id
        ),
        maxd AS (SELECT max(CAST(ts AS DATE)) AS md FROM events),
        activity AS (
            SELECT DISTINCT p.user_id,
                   CAST(date_diff('day', f.d0, p.day) AS BIGINT) AS age
            FROM p JOIN firsts f ON f.user_id = p.user_id
        ),
        cohorts AS (
            SELECT d0, CAST(count(*) AS DOUBLE) AS size,
                   CAST(date_diff('day', d0, md) AS BIGINT) AS capacity
            FROM firsts, maxd GROUP BY d0, md
        ),
        ages AS (SELECT DISTINCT age FROM activity WHERE age >= 1),
        observable AS (
            SELECT a.age, sum(c.size) AS denom
            FROM ages a JOIN cohorts c ON c.capacity >= a.age
            GROUP BY a.age
        ),
        active AS (
            SELECT age, CAST(count(*) AS DOUBLE) AS numer
            FROM activity WHERE age >= 1 GROUP BY age
        ),
        pts AS (
            SELECT ln(CAST(o.age AS DOUBLE)) AS lx,
                   ln(a.numer / o.denom) AS ly
            FROM observable o JOIN active a ON a.age = o.age
            WHERE a.numer > 0 AND a.numer < o.denom
        ),
        fit AS (
            SELECT (sum(lx * ly) - sum(lx) * sum(ly) / count(*))
                   / (sum(lx * lx) - sum(lx) * sum(lx) / count(*)) AS beta,
                   exp((sum(ly) - (sum(lx * ly) - sum(lx) * sum(ly)
                                   / count(*))
                                  / (sum(lx * lx) - sum(lx) * sum(lx)
                                     / count(*)) * sum(lx))
                       / count(*)) AS k
            FROM pts
        ),
        spend AS (
            SELECT avg(value) AS aov,
                   CAST(count(*) AS DOUBLE)
                       / count(DISTINCT user_id) AS buys_per_active_day
            FROM p
        ),
        horizon AS (SELECT unnest(range(1, 91)) AS t)
        SELECT round(min(k), 6) AS retention_k,
               round(min(beta), 6) AS retention_beta,
               round(min(aov), 4) AS avg_order_value,
               round(min(aov) * sum(k * power(t, beta)), 4)
                   AS projected_90d_ltv_per_user
        FROM horizon, fit, spend
    """,
    doc="90-day LTV projection from the fitted retention power law: "
    "expected spend per acquired user = AOV * sum over days 1-90 "
    "of predicted retention K*t^beta — the forward-looking "
    "number that justifies acquisition cost, assembled entirely "
    "in-plan: the censoring-aware retention fit (shared "
    "machinery with analytics-retention-decay-fit), an AOV "
    "aggregate, and a 90-row day spine whose sum IS the "
    "projection integral. Extrapolation caveat lives in the "
    "fit quality, which the decay-fit op reports separately; "
    "here the point is the COMPOSITION — curve fit, unit "
    "economics, and horizon sum in one deterministic plan with "
    "zero driver round-trips.",
)
def analytics_ltv_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("day"), "value"
    )
    # persist the shared per-user relations (the retention-decay-fit
    # pattern): firsts feeds the activity join AND the cohort rollup,
    # activity feeds the age universe AND the active counts —
    # unpersisted each consumer re-planned the purchase scan + rollups
    # (7 events scans / 36 Exchanges in the r11 before-plan). The
    # cached shapes coalesce to summary width (session.cache_width):
    # at the session's static 32-partition cache width this op measured
    # 1.43 s conf-off vs 0.92 s with AQE-coalesced caches (r11).
    w = cache_width(spark)
    firsts = (
        p.groupBy("user_id").agg(F.min("day").alias("d0"))
        .coalesce(w)
        .persist()
    )
    maxd = ev.agg(F.max(F.to_date("ts")).alias("md"))
    activity = (
        p.join(firsts, "user_id")
        .select(
            "user_id",
            F.datediff(F.col("day"), F.col("d0")).cast("long").alias("age"),
        )
        .distinct()
        .coalesce(w)
        .persist()
    )
    cohorts = (
        firsts.crossJoin(F.broadcast(maxd))
        .groupBy("d0", "md")
        .agg(F.count("*").cast("double").alias("size"))
        .select(
            "size",
            F.datediff(F.col("md"), F.col("d0")).cast("long").alias(
                "capacity"
            ),
        )
    )
    ages = activity.filter(F.col("age") >= 1).select("age").distinct()
    observable = (
        ages.join(F.broadcast(cohorts), F.col("capacity") >= F.col("age"))
        .groupBy("age")
        .agg(F.sum("size").alias("denom"))
    )
    active = (
        activity.filter(F.col("age") >= 1)
        .groupBy("age")
        .agg(F.count("*").cast("double").alias("numer"))
    )
    pts = (
        observable.join(active, "age")
        .filter((F.col("numer") > 0) & (F.col("numer") < F.col("denom")))
        .select(
            F.log(F.col("age").cast("double")).alias("lx"),
            F.log(F.col("numer") / F.col("denom")).alias("ly"),
        )
    )
    n = F.count("*")
    sxy = F.sum(F.col("lx") * F.col("ly")) - F.sum("lx") * F.sum("ly") / n
    sxx = F.sum(F.col("lx") * F.col("lx")) - F.sum("lx") * F.sum("lx") / n
    beta = sxy / sxx
    fit = pts.agg(
        beta.alias("beta"),
        F.exp((F.sum("ly") - beta * F.sum("lx")) / n).alias("k"),
    )
    spend = p.agg(F.avg("value").alias("aov"))
    horizon = spark.range(1, 91).select(
        F.col("id").cast("double").alias("t")
    )
    proj = (
        horizon.crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(spend))
        .agg(
            F.round(F.min("k"), 6).alias("retention_k"),
            F.round(F.min("beta"), 6).alias("retention_beta"),
            F.round(F.min("aov"), 4).alias("avg_order_value"),
            F.round(
                F.min("aov")
                * F.sum(F.col("k") * F.pow(F.col("t"), F.col("beta"))),
                4,
            ).alias("projected_90d_ltv_per_user"),
        )
    )
    return proj


@query(
    "event-hour-dow-heatmap",
    oracle="""
        WITH cells AS (
            SELECT (isodow(CAST(ts AS DATE)) - 1) % 7 AS dow,
                   CAST(extract(hour FROM ts) AS BIGINT) AS hr,
                   CAST(count(*) AS DOUBLE) AS c
            FROM events GROUP BY 1, 2
        )
        SELECT CAST(dow AS BIGINT) AS dow, hr,
               CAST(c AS BIGINT) AS n_events,
               round(c / sum(c) OVER (), 6) AS share,
               round((c - avg(c) OVER ()) / stddev_samp(c) OVER (), 6)
                   AS cell_z
        FROM cells ORDER BY dow, hr
    """,
    doc="Hour x day-of-week activity heatmap: the 7x24 cell matrix "
    "(count, global share, and z vs the mean cell) that every "
    "ops dashboard renders to find the weekly rhythm — and the "
    "2-D generalization of stats-uniformity-hours (which "
    "marginalizes over days; a uniform hourly marginal can hide "
    "a strong dow x hour interaction that only the joint table "
    "shows). ONE hash agg to at most 168 cells — partial "
    "aggregation collapses each scan partition to the cell grid "
    "before the shuffle, the canonical low-cardinality rollup "
    "shape at any data size; normalizations ride windows over "
    "the 168-row summary. weekday()/(isodow-1)%7 keeps both "
    "engines on 0=Monday.",
)
def event_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.weekday(F.to_date("ts")).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(F.count("*").cast("double").alias("c"))
    w_all = Window.partitionBy()
    return cells.select(
        "dow",
        "hr",
        F.col("c").cast("long").alias("n_events"),
        F.round(F.col("c") / F.sum("c").over(w_all), 6).alias("share"),
        F.round(
            (F.col("c") - F.avg("c").over(w_all))
            / F.stddev_samp("c").over(w_all),
            6,
        ).alias("cell_z"),
    ).orderBy("dow", "hr")


@query(
    "analytics-price-elasticity",
    oracle="""
        WITH obs AS (
            SELECT l_partkey,
                   ln(l_extendedprice / l_quantity) AS lp,
                   ln(l_quantity) AS lq
            -- log-log model is only defined on positive price AND
            -- quantity: hostile negative prices must be excluded
            -- explicitly (Spark ln(neg) silently NULLs, DuckDB errors)
            FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
        ),
        demeaned AS (
            SELECT lp - avg(lp) OVER (PARTITION BY l_partkey) AS dlp,
                   lq - avg(lq) OVER (PARTITION BY l_partkey) AS dlq
            FROM obs
        ),
        fit AS (
            SELECT count(*) AS n,
                   sum(dlp * dlq) AS sxy,
                   sum(dlp * dlp) AS sxx,
                   sum(dlq * dlq) AS syy
            FROM demeaned
        )
        SELECT CAST(n AS BIGINT) AS n_obs,
               round(sxy / sxx, 6) AS elasticity,
               round(sxy * sxy / (sxx * syy), 6) AS r2_within,
               round(sqrt((syy - sxy * sxy / sxx) / (n - 2) / sxx), 6)
                   AS se_naive
        FROM fit
    """,
    doc="Price elasticity of demand via the panel WITHIN estimator: "
    "log-log regression of quantity on unit price with part fixed "
    "effects absorbed by per-part demeaning (the two-way transform "
    "that kills cross-part price-level confounding a pooled OLS "
    "would soak up). One window pass partitioned by l_partkey "
    "(single shuffle on the natural key) then a scalar moment "
    "aggregate: beta = sum(dp*dq)/sum(dp^2), within-R2, naive SE. "
    "The econometric sibling of agg-regression-battery's pooled "
    "fit; at 100 TB the demeaning window and the moment agg are "
    "the same one shuffle.",
    tags=("analytics",),
)
def analytics_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    # positive-domain guard on BOTH factors: the log-log observation is
    # undefined for hostile negative/zero prices (Spark would silently
    # NULL the log where DuckDB hard-errors — pin the exclusion).
    obs = li.filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    ).select(
        "l_partkey",
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("lp"),
        F.log("l_quantity").alias("lq"),
    )
    w = Window.partitionBy("l_partkey")
    dm = obs.select(
        (F.col("lp") - F.avg("lp").over(w)).alias("dlp"),
        (F.col("lq") - F.avg("lq").over(w)).alias("dlq"),
    )
    fit = dm.agg(
        F.count("*").alias("n"),
        F.sum(F.col("dlp") * F.col("dlq")).alias("sxy"),
        F.sum(F.col("dlp") * F.col("dlp")).alias("sxx"),
        F.sum(F.col("dlq") * F.col("dlq")).alias("syy"),
    )
    n, sxy, sxx, syy = F.col("n"), F.col("sxy"), F.col("sxx"), F.col("syy")
    return fit.select(
        n.cast("long").alias("n_obs"),
        F.round(sxy / sxx, 6).alias("elasticity"),
        F.round(sxy * sxy / (sxx * syy), 6).alias("r2_within"),
        F.round(F.sqrt((syy - sxy * sxy / sxx) / (n - 2) / sxx), 6).alias(
            "se_naive"
        ),
    )


@query(
    "analytics-bass-diffusion",
    oracle="""
        WITH first_buy AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS d0
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        adopters AS (
            SELECT d0 AS day, CAST(count(*) AS DOUBLE) AS n_t
            FROM first_buy GROUP BY d0
        ),
        cum AS (
            SELECT day, n_t,
                   coalesce(sum(n_t) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS big_n
            FROM adopters
        ),
        m AS (
            SELECT count(*) AS n,
                   avg(n_t) AS my, avg(big_n) AS m1, avg(big_n * big_n) AS m2
            FROM cum
        ),
        s AS (
            SELECT max(m.n) AS n,
                   sum((c.big_n - m.m1) * (c.big_n - m.m1)) AS s11,
                   sum((c.big_n - m.m1) * (c.big_n * c.big_n - m.m2)) AS s12,
                   sum((c.big_n * c.big_n - m.m2)
                       * (c.big_n * c.big_n - m.m2)) AS s22,
                   sum((c.big_n - m.m1) * (c.n_t - m.my)) AS sy1,
                   sum((c.big_n * c.big_n - m.m2) * (c.n_t - m.my)) AS sy2,
                   max(m.my) AS my, max(m.m1) AS m1, max(m.m2) AS m2
            FROM cum c, m GROUP BY ALL
        ),
        fit AS (
            SELECT n,
                   (sy1 * s22 - sy2 * s12) / (s11 * s22 - s12 * s12) AS b,
                   (sy2 * s11 - sy1 * s12) / (s11 * s22 - s12 * s12) AS c,
                   my, m1, m2
            FROM s
        ),
        abc AS (
            SELECT n, my - b * m1 - c * m2 AS a, b, c FROM fit
        ),
        mkt AS (
            SELECT n, a, b, c,
                   CASE WHEN b * b - 4 * c * a >= 0
                        THEN (-b - sqrt(b * b - 4 * c * a)) / (2 * c)
                        ELSE NULL END AS m_cap
            FROM abc
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(a, 6) AS coef_a, round(b, 6) AS coef_b,
               round(c, 8) AS coef_c,
               round(m_cap, 4) AS market_size,
               round(a / m_cap, 6) AS p_innovation,
               round(-c * m_cap, 6) AS q_imitation
        FROM mkt
    """,
    doc="Bass diffusion model fit on first-purchase adoption: the "
    "discrete Bass regression n_t = a + b*N_(t-1) + c*N_(t-1)^2 "
    "solved in closed form (centered 2x2 normal equations — no "
    "iterative optimizer), then the structural parameters recovered "
    "from the quadratic root: M = (-b - sqrt(b^2-4ca))/2c, "
    "p = a/M (innovation), q = -cM (imitation). Pipeline: first-"
    "purchase dates (one groupBy user), daily adopter counts (one "
    "groupBy day), lagged cumulative via window, moment sums on the "
    "day-count summary. The product-growth forecasting op whose "
    "p/q split says whether adoption is ad-driven or word-of-"
    "mouth-driven; companions: analytics-ltv-projection, "
    "analytics-retention-decay-fit.",
    tags=("analytics",),
)
def analytics_bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first_buy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("d0"))
    )
    adopters = first_buy.groupBy(F.col("d0").alias("day")).agg(
        F.count("*").cast("double").alias("n_t")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    cum = adopters.select(
        "day", "n_t", F.coalesce(F.sum("n_t").over(w), F.lit(0.0)).alias("big_n")
    )
    m = cum.agg(
        F.count("*").alias("n"),
        F.avg("n_t").alias("my"),
        F.avg("big_n").alias("m1"),
        F.avg(F.col("big_n") * F.col("big_n")).alias("m2"),
    )
    j = cum.join(F.broadcast(m))
    dx1 = F.col("big_n") - F.col("m1")
    dx2 = F.col("big_n") * F.col("big_n") - F.col("m2")
    dy = F.col("n_t") - F.col("my")
    s = j.agg(
        F.max("n").alias("n"),
        F.sum(dx1 * dx1).alias("s11"),
        F.sum(dx1 * dx2).alias("s12"),
        F.sum(dx2 * dx2).alias("s22"),
        F.sum(dx1 * dy).alias("sy1"),
        F.sum(dx2 * dy).alias("sy2"),
        F.max("my").alias("my"),
        F.max("m1").alias("m1"),
        F.max("m2").alias("m2"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b = (F.col("sy1") * F.col("s22") - F.col("sy2") * F.col("s12")) / det
    c = (F.col("sy2") * F.col("s11") - F.col("sy1") * F.col("s12")) / det
    fit = s.select("n", b.alias("b"), c.alias("c"), "my", "m1", "m2")
    a = F.col("my") - F.col("b") * F.col("m1") - F.col("c") * F.col("m2")
    abc = fit.select("n", a.alias("a"), "b", "c")
    # guard the discriminant on BOTH engines: a non-Bass-shaped adoption
    # curve (seen on the zipf skew warehouse) fits a quadratic with no
    # real root — Spark's sqrt(negative) is a silent NaN while DuckDB's
    # raises, so both sides return NULL for the structural parameters
    disc = F.col("b") * F.col("b") - 4 * F.col("c") * F.col("a")
    m_cap = F.when(
        disc >= 0, (-F.col("b") - F.sqrt(disc)) / (2 * F.col("c"))
    )
    mkt = abc.select("n", "a", "b", "c", m_cap.alias("m_cap"))
    return mkt.select(
        F.col("n").cast("long").alias("n_days"),
        F.round("a", 6).alias("coef_a"),
        F.round("b", 6).alias("coef_b"),
        F.round("c", 8).alias("coef_c"),
        F.round("m_cap", 4).alias("market_size"),
        F.round(F.col("a") / F.col("m_cap"), 6).alias("p_innovation"),
        F.round(-F.col("c") * F.col("m_cap"), 6).alias("q_imitation"),
    )


@query(
    "analytics-adstock-regression",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
                   sum(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0 END) AS y
            FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
        ),
        ad AS (
            SELECT day, y,
                   x + CAST({0.6 ** 1!r} AS DOUBLE) * lag(x, 1) OVER w
                     + CAST({0.6 ** 2!r} AS DOUBLE) * lag(x, 2) OVER w
                     + CAST({0.6 ** 3!r} AS DOUBLE) * lag(x, 3) OVER w
                     + CAST({0.6 ** 4!r} AS DOUBLE) * lag(x, 4) OVER w
                     + CAST({0.6 ** 5!r} AS DOUBLE) * lag(x, 5) OVER w
                     + CAST({0.6 ** 6!r} AS DOUBLE) * lag(x, 6) OVER w
                     + CAST({0.6 ** 7!r} AS DOUBLE) * lag(x, 7) OVER w AS adstock,
                   row_number() OVER w AS rn
            FROM daily WINDOW w AS (ORDER BY day)
        ),
        kept AS (SELECT adstock, y FROM ad WHERE rn >= 8),
        fit AS (
            SELECT count(*) AS n, avg(adstock) AS mx, avg(y) AS my,
                   sum(adstock * y) - count(*) * avg(adstock) * avg(y) AS sxy,
                   sum(adstock * adstock)
                       - count(*) * avg(adstock) * avg(adstock) AS sxx,
                   sum(y * y) - count(*) * avg(y) * avg(y) AS syy
            FROM kept
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(sxy / sxx, 6) AS beta,
               round(my - sxy / sxx * mx, 6) AS alpha,
               round(sxy * sxy / (sxx * syy), 6) AS r2,
               round(sxy / sxx * mx / my, 6) AS elasticity_at_mean
        FROM fit
    """,
    doc="Marketing-mix regression with geometric ADSTOCK carryover: "
    "daily purchase revenue on adstocked click volume, adstock_t = "
    "sum_{k=0..7} 0.6^k x_{t-k} unrolled as 8 lag terms over one "
    "window sort (the finite-window form of the recursive decay — "
    "0.6^8 = 1.7% truncation error), warm-up days dropped, then "
    "closed-form OLS on the day-count summary: beta, alpha, R^2, "
    "and the elasticity at the mean that media-budget decisions "
    "read. The carryover-aware upgrade of analytics-event-study's "
    "instantaneous-effect model.",
    tags=("analytics",),
)
def analytics_adstock_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("y"),
    )
    w = Window.orderBy("day")
    adstock = F.col("x") + sum(
        (0.6 ** k) * F.lag("x", k).over(w) for k in range(1, 8)
    )
    ad = daily.select(
        "day",
        "y",
        adstock.alias("adstock"),
        F.row_number().over(w).alias("rn"),
    )
    kept = ad.filter(F.col("rn") >= 8).select("adstock", "y")
    n = F.count("*")
    fit = kept.agg(
        n.alias("n"),
        F.avg("adstock").alias("mx"),
        F.avg("y").alias("my"),
        (F.sum(F.col("adstock") * F.col("y")) - n * F.avg("adstock") * F.avg("y")).alias("sxy"),
        (F.sum(F.col("adstock") * F.col("adstock")) - n * F.avg("adstock") * F.avg("adstock")).alias("sxx"),
        (F.sum(F.col("y") * F.col("y")) - n * F.avg("y") * F.avg("y")).alias("syy"),
    )
    beta = F.col("sxy") / F.col("sxx")
    return fit.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(beta, 6).alias("beta"),
        F.round(F.col("my") - beta * F.col("mx"), 6).alias("alpha"),
        F.round(
            F.col("sxy") * F.col("sxy") / (F.col("sxx") * F.col("syy")), 6
        ).alias("r2"),
        F.round(beta * F.col("mx") / F.col("my"), 6).alias("elasticity_at_mean"),
    )


@query(
    "analytics-abc-xyz",
    oracle="""
        WITH part_rev AS (
            SELECT l_partkey,
                   sum(l_extendedprice * (1 - l_discount)) AS rev,
                   avg(l_quantity) AS mq,
                   stddev_samp(l_quantity) AS sq,
                   count(*) AS n_lines
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT l_partkey, rev,
                   coalesce(sq / mq, 0) AS cv,
                   sum(rev) OVER (ORDER BY rev DESC, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       / sum(rev) OVER () AS cum_share
            FROM part_rev WHERE n_lines >= 2
        ),
        classed AS (
            SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
                        WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc,
                   CASE WHEN cv < 0.3 THEN 'X'
                        WHEN cv < 0.6 THEN 'Y' ELSE 'Z' END AS xyz,
                   rev
            FROM ranked
        )
        SELECT abc, xyz,
               CAST(count(*) AS BIGINT) AS n_parts,
               round(sum(rev), 2) AS revenue
        FROM classed GROUP BY abc, xyz
    """,
    doc="ABC-XYZ inventory classification: parts ranked by revenue "
    "contribution (A = first 80% of cumulative revenue, B = next "
    "15%, C = tail) crossed with demand-variability classes from "
    "the quantity coefficient of variation (X < 0.3 steady, Y < "
    "0.6, Z erratic). The 9-cell matrix drives stocking policy "
    "(AX = automate, CZ = make-to-order). One hash aggregation per "
    "part, one revenue-ordered window for cumulative share "
    "(deterministic (rev desc, partkey) tie-break), classification "
    "as pure codegen — the 2-D upgrade of abc-revenue-deciles. "
    "Parts with a single line are excluded (CV undefined).",
    tags=("analytics",),
)
def analytics_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.ranking import with_global_order

    li = load_table(spark, sf_dir, "lineitem")
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.avg("l_quantity").alias("mq"),
        F.stddev_samp("l_quantity").alias("sq"),
        F.count("*").alias("n_lines"),
    )
    # running share from a range sort (operators/ranking.py): the
    # per-part frame grows with the catalog, so no global window.
    ranked = with_global_order(
        part_rev.filter(F.col("n_lines") >= 2),
        "rev",
        ascending=False,
        tiebreakers=("l_partkey",),
        cum_sums={"cum_rev": "rev"},
        total_sums={"tot_rev": "rev"},
    ).select(
        "rev",
        F.coalesce(F.col("sq") / F.col("mq"), F.lit(0.0)).alias("cv"),
        (F.col("cum_rev") / F.col("tot_rev")).alias("cum_share"),
    )
    classed = ranked.select(
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(F.col("cv") < 0.3, "X")
        .when(F.col("cv") < 0.6, "Y")
        .otherwise("Z")
        .alias("xyz"),
        "rev",
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.round(F.sum("rev"), 2).alias("revenue"),
    )


@query(
    "attribution-shapley",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
                   max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
                   max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
            FROM events GROUP BY user_id
        ),
        coal AS (
            SELECT c * 4 + v * 2 + s AS mask, avg(CAST(converted AS DOUBLE)) AS rate
            FROM per_user GROUP BY c * 4 + v * 2 + s
        ),
        piv AS (
            SELECT coalesce(max(CASE WHEN mask = 0 THEN rate END), 0) AS v000,
                   coalesce(max(CASE WHEN mask = 1 THEN rate END), 0) AS v001,
                   coalesce(max(CASE WHEN mask = 2 THEN rate END), 0) AS v010,
                   coalesce(max(CASE WHEN mask = 3 THEN rate END), 0) AS v011,
                   coalesce(max(CASE WHEN mask = 4 THEN rate END), 0) AS v100,
                   coalesce(max(CASE WHEN mask = 5 THEN rate END), 0) AS v101,
                   coalesce(max(CASE WHEN mask = 6 THEN rate END), 0) AS v110,
                   coalesce(max(CASE WHEN mask = 7 THEN rate END), 0) AS v111
            FROM coal
        )
        SELECT 'click' AS channel,
               round((2 * (v100 - v000) + (v110 - v010) + (v101 - v001)
                      + 2 * (v111 - v011)) / 6, 6) AS shapley
        FROM piv
        UNION ALL
        SELECT 'view',
               round((2 * (v010 - v000) + (v110 - v100) + (v011 - v001)
                      + 2 * (v111 - v101)) / 6, 6)
        FROM piv
        UNION ALL
        SELECT 'signup',
               round((2 * (v001 - v000) + (v101 - v100) + (v011 - v010)
                      + 2 * (v111 - v110)) / 6, 6)
        FROM piv
    """,
    doc="Exact Shapley-value marketing attribution over the 3-channel "
    "coalition game (click/view/signup touches, purchase as "
    "conversion): v(S) = conversion rate of users whose touched "
    "set is exactly S (unobserved coalitions contribute 0, "
    "documented), Shapley_i = sum over orderings of marginal "
    "contributions with the |S|!(n-|S|-1)!/n! weights — closed "
    "form at n=3, no sampling. The game-theoretic completion of "
    "attribution-last-touch and attribution-position-based: "
    "Shapley is the only credit split satisfying "
    "efficiency/symmetry/dummy axioms. One per-user aggregation, "
    "one 8-cell pivot, pure literal math after.",
    tags=("analytics",),
)
def attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tflag = lambda t: F.max(  # noqa: E731
        F.when(F.col("event_type") == t, 1).otherwise(0)
    )
    per_user = ev.groupBy("user_id").agg(
        tflag("click").alias("c"),
        tflag("view").alias("v"),
        tflag("signup").alias("s"),
        tflag("purchase").alias("converted"),
    )
    coal = per_user.groupBy(
        (F.col("c") * 4 + F.col("v") * 2 + F.col("s")).alias("mask")
    ).agg(F.avg(F.col("converted").cast("double")).alias("rate"))
    # persist the 1-row coalition pivot: each per-channel union branch
    # below re-planned the events scan + per-user rollup (3 fact scans
    # for one 8-cell literal-math row)
    piv = coal.agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("mask") == m, F.col("rate"))), F.lit(0.0)
            ).alias(f"v{m:03b}")
            for m in range(8)
        ]
    ).coalesce(1).persist()
    c = lambda name: F.col(name)  # noqa: E731
    click = (
        2 * (c("v100") - c("v000")) + (c("v110") - c("v010"))
        + (c("v101") - c("v001")) + 2 * (c("v111") - c("v011"))
    ) / 6
    view = (
        2 * (c("v010") - c("v000")) + (c("v110") - c("v100"))
        + (c("v011") - c("v001")) + 2 * (c("v111") - c("v101"))
    ) / 6
    signup = (
        2 * (c("v001") - c("v000")) + (c("v101") - c("v100"))
        + (c("v011") - c("v010")) + 2 * (c("v111") - c("v110"))
    ) / 6
    out = piv.select(
        F.lit("click").alias("channel"), F.round(click, 6).alias("shapley")
    ).unionByName(
        piv.select(F.lit("view").alias("channel"), F.round(view, 6).alias("shapley"))
    ).unionByName(
        piv.select(
            F.lit("signup").alias("channel"), F.round(signup, 6).alias("shapley")
        )
    )
    return out


@query(
    "funnel-window-sensitivity",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS t_buy
            FROM events GROUP BY user_id
        ),
        deltas AS (
            SELECT user_id,
                   date_diff('day', t_click, t_buy) AS dd
            FROM firsts
            WHERE t_click IS NOT NULL AND t_buy IS NOT NULL
              AND t_buy >= t_click
        ),
        base AS (
            SELECT (SELECT count(*) FROM firsts
                    WHERE t_click IS NOT NULL) AS n_clickers
        )
        SELECT w.window_days,
               CAST(max(base.n_clickers) AS BIGINT) AS n_clickers,
               CAST(sum(CASE WHEN d.dd <= w.window_days THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_converted,
               round(sum(CASE WHEN d.dd <= w.window_days THEN 1 ELSE 0 END)
                     / CAST(max(base.n_clickers) AS DOUBLE), 6) AS cvr
        FROM deltas d, base,
             (SELECT CAST(unnest([1, 3, 7, 14]) AS BIGINT) AS window_days) w
        GROUP BY w.window_days
    """,
    doc="Attribution-WINDOW sensitivity of the click -> purchase "
    "funnel: the same first-touch funnel evaluated at 1/3/7/14-day "
    "conversion windows in ONE pass (per-user first click and first "
    "purchase from a single conditional aggregation; the window "
    "sweep is a 4-row literal fan-out over the per-user deltas). "
    "The chart that ends 'our CVR dropped' arguments by showing how "
    "much of the metric is window-definition artifact — "
    "funnel-conversion and funnel-windowed-strict each pin ONE "
    "definition; this op shows the whole curve. Day-granularity "
    "deltas keep both engines' date arithmetic identical.",
    tags=("analytics",),
)
def funnel_window_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_buy"
        ),
    )
    deltas = firsts.filter(
        F.col("t_click").isNotNull()
        & F.col("t_buy").isNotNull()
        & (F.col("t_buy") >= F.col("t_click"))
    ).select(F.datediff(F.to_date("t_buy"), F.to_date("t_click")).alias("dd"))
    base = firsts.filter(F.col("t_click").isNotNull()).agg(
        F.count("*").alias("n_clickers")
    )
    windows = deltas.sparkSession.createDataFrame(
        [(1,), (3,), (7,), (14,)], "window_days long"
    )
    j = deltas.crossJoin(F.broadcast(windows)).join(F.broadcast(base))
    return j.groupBy("window_days").agg(
        F.max("n_clickers").cast("long").alias("n_clickers"),
        F.sum(F.when(F.col("dd") <= F.col("window_days"), 1).otherwise(0))
        .cast("long")
        .alias("n_converted"),
        F.round(
            F.sum(F.when(F.col("dd") <= F.col("window_days"), 1).otherwise(0))
            / F.max("n_clickers").cast("double"),
            6,
        ).alias("cvr"),
    )


@query(
    "event-interarrival-burstiness",
    oracle="""
        WITH ordered AS (
            SELECT event_type, ts, event_id,
                   lag(ts) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) AS prev_ts
            FROM (SELECT DISTINCT event_type, ts, event_id FROM events
                  WHERE ts IS NOT NULL) base
        ),
        gaps AS (
            SELECT event_type,
                   CAST(date_diff('second', prev_ts, ts) AS DOUBLE) AS g,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id) AS rn
            FROM ordered WHERE prev_ts IS NOT NULL
        ),
        lagged AS (
            SELECT event_type, g,
                   lag(g) OVER (PARTITION BY event_type ORDER BY rn) AS gp
            FROM gaps
        ),
        stats AS (
            SELECT event_type,
                   count(*) AS n,
                   avg(g) AS mu, stddev_samp(g) AS sd,
                   corr(g, gp) AS memory_coef
            FROM lagged GROUP BY event_type
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS n_gaps,
               round(mu, 4) AS mean_gap_sec,
               round(sd / mu, 6) AS cv,
               round((sd / mu - 1) / (sd / mu + 1), 6) AS burstiness,
               round(memory_coef, 6) AS memory_coef
        FROM stats
    """,
    doc="Interarrival-time temporal dynamics per event type (Goh & "
    "Barabasi 2008): coefficient of variation of the gaps, "
    "burstiness B = (CV-1)/(CV+1) in [-1, 1] (0 = Poisson, -> 1 = "
    "bursty, -> -1 = metronomic), and the memory coefficient = "
    "corr of successive gaps (positive memory = long gaps follow "
    "long gaps). The (B, M) pair is the standard fingerprint that "
    "separates human-driven activity from machine schedules and "
    "retry storms — dimensions anomaly-zscore on COUNTS cannot "
    "see. One sort per event-type partition feeds both the gap lag "
    "and the successive-gap lag; the moments are a k-row hash "
    "aggregation. Deterministic (ts, event_id) tie-break.",
    tags=("analytics",),
)
def event_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .dropDuplicates(["event_id"])
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", "ts", "event_id", F.lag("ts").over(w).alias("prev_ts")
    )
    gaps = ordered.filter(F.col("prev_ts").isNotNull()).select(
        "event_type",
        (F.col("ts").cast("long") - F.col("prev_ts").cast("long"))
        .cast("double")
        .alias("g"),
        F.row_number().over(w).alias("rn"),
    )
    wg = Window.partitionBy("event_type").orderBy("rn")
    lagged = gaps.select(
        "event_type", "g", F.lag("g").over(wg).alias("gp")
    )
    stats = lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.avg("g").alias("mu"),
        F.stddev_samp("g").alias("sd"),
        F.corr("g", "gp").alias("memory_coef"),
    )
    cv = F.col("sd") / F.col("mu")
    return stats.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.round("mu", 4).alias("mean_gap_sec"),
        F.round(cv, 6).alias("cv"),
        F.round((cv - 1) / (cv + 1), 6).alias("burstiness"),
        F.round("memory_coef", 6).alias("memory_coef"),
    )


@query(
    "event-cooccurrence-lift",
    oracle="""
        WITH ud AS (
            SELECT user_id, CAST(ts AS DATE) AS day, event_type
            FROM events GROUP BY user_id, CAST(ts AS DATE), event_type
        ),
        tot AS (
            SELECT count(*) AS n FROM (
                SELECT DISTINCT user_id, day FROM ud
            )
        ),
        marg AS (
            SELECT event_type, count(*) AS n_days FROM ud GROUP BY event_type
        ),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   count(*) AS n_both
            FROM ud a JOIN ud b
              ON a.user_id = b.user_id AND a.day = b.day
             AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        )
        SELECT p.type_a, p.type_b,
               CAST(p.n_both AS BIGINT) AS n_both,
               round(CAST(p.n_both AS DOUBLE) * tot.n
                     / (ma.n_days * CAST(mb.n_days AS DOUBLE)), 6) AS lift,
               round(CAST(p.n_both AS DOUBLE)
                     / (ma.n_days + mb.n_days - p.n_both), 6) AS jaccard
        FROM pairs p
        JOIN marg ma ON p.type_a = ma.event_type
        JOIN marg mb ON p.type_b = mb.event_type, tot
    """,
    doc="Event-type co-occurrence lift on USER-DAY units: lift = "
    "P(a,b)/(P(a)P(b)) and Jaccard overlap for every type pair, "
    "where a unit is a (user, day) — the behavioral association "
    "matrix ('do people who error also purchase, the same day?') "
    "that basket-affinity computes for order line-items. The "
    "pair join is keyed on (user, day) so candidate width is the "
    "per-unit distinct-type count (<= 5), never a cross join; "
    "margins and the unit total are summary-sized broadcasts. "
    "Deterministic type_a < type_b orientation.",
    tags=("analytics",),
)
def event_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persist the distinct (user, day, type) unit relation
    # CO-PARTITIONED on (user, day): hash(user_id, day) co-locates
    # equal triples, so the dedup adds no second exchange, the
    # user-day self-join below reads both sides from the cache with
    # zero join exchanges, and tot's (user, day) distinct needs no
    # exchange either. r11's plain distinct().persist() cached at the
    # static 32-partition width measured +66% and was reverted; this
    # is the width-controlled co-partitioned form (session.cache_width).
    ud = (
        ev.select("user_id", F.to_date("ts").alias("day"), "event_type")
        .repartition(cache_width(spark), "user_id", "day")
        .dropDuplicates(["user_id", "day", "event_type"])
        .persist()
    )
    tot = ud.select("user_id", "day").distinct().agg(F.count("*").alias("n"))
    marg = ud.groupBy("event_type").agg(F.count("*").alias("n_days"))
    a = ud.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = ud.select(
        F.col("user_id").alias("user_b"),
        F.col("day").alias("day_b"),
        F.col("event_type").alias("type_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("user_id") == F.col("user_b"))
            & (F.col("day") == F.col("day_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    ma = marg.select(
        F.col("event_type").alias("type_a"), F.col("n_days").alias("na")
    )
    mb = marg.select(
        F.col("event_type").alias("type_b"), F.col("n_days").alias("nb")
    )
    j = (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .join(F.broadcast(tot))
    )
    return j.select(
        "type_a",
        "type_b",
        F.col("n_both").cast("long").alias("n_both"),
        F.round(
            F.col("n_both").cast("double") * F.col("n")
            / (F.col("na") * F.col("nb").cast("double")),
            6,
        ).alias("lift"),
        F.round(
            F.col("n_both").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_both")),
            6,
        ).alias("jaccard"),
    )


@query(
    "event-session-depth-histogram",
    oracle="""
        WITH gaps AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN ts - coalesce(lag(ts) OVER w, ts)
                             > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM (SELECT DISTINCT user_id, event_id, ts FROM events
                  WHERE ts IS NOT NULL) base
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts,
                       event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
                       CURRENT ROW) AS session_id
            FROM gaps
        ),
        depth AS (
            SELECT user_id, session_id, count(*) AS n_events
            FROM sess GROUP BY user_id, session_id
        )
        SELECT CASE WHEN n_events = 1 THEN '1'
                    WHEN n_events <= 3 THEN '2-3'
                    WHEN n_events <= 7 THEN '4-7'
                    ELSE '8+' END AS depth_bucket,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               round(avg(n_events), 6) AS mean_depth
        FROM depth
        GROUP BY 1
    """,
    doc="Session DEPTH distribution: 30-minute-gap sessionization "
    "(the sessionize op's exact window recipe), events per "
    "session, bucketed into the 1 / 2-3 / 4-7 / 8+ histogram "
    "product teams read (the '1' bucket IS the bounce rate; mass "
    "migrating from 8+ to 1 is the engagement regression "
    "dashboards exist to catch). One shuffle on user_id feeds "
    "both sessionization windows; the histogram is a second "
    "small aggregation keyed on (user, session).",
    tags=("analytics",),
)
def event_session_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .dropDuplicates(["event_id"])
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # double, not long: long truncates microseconds and diverges from the
    # oracle's exact INTERVAL comparison on sub-second boundary gaps
    # (found by the r9 zipf skew axis on sessionize)
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    new_session = F.when(F.coalesce(gap, F.lit(0)) > 30 * 60, 1).otherwise(0)
    sess = ev.select(
        "user_id",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    depth = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    bucket = (
        F.when(F.col("n_events") == 1, "1")
        .when(F.col("n_events") <= 3, "2-3")
        .when(F.col("n_events") <= 7, "4-7")
        .otherwise("8+")
    )
    return depth.groupBy(bucket.alias("depth_bucket")).agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.round(F.avg("n_events"), 6).alias("mean_depth"),
    )
