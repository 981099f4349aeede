"""Relational operator surface (SURVEY.md §2.3-2.8).

Re-expresses the reference's Postgres-delegated SQL surface
(``/root/reference/app/app.py:46-77``: DISTINCT / IS NOT NULL / equality
filter / ORDER BY / LIMIT) and its implicit union/join/window needs as
native Catalyst plans. Scale notes per op in docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from transit_scrape_spark.queries.registry import query
from transit_scrape_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Filters / predicates (reference: app/app.py:50,71-72)
# ---------------------------------------------------------------------------

@query(
    "filter-eq",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        FROM customer
        WHERE c_mktsegment = 'BUILDING'
    """,
    doc="Equality predicate, reference app/app.py:71-72 (dynamic WHERE). "
    "Filter + projection both push into the parquet scan (PushedFilters).",
)
def filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    )


@query(
    "filter-not-null",
    oracle="""
        SELECT c_custkey, c_mktsegment
        FROM customer
        WHERE c_mktsegment IS NOT NULL
    """,
    doc="IS NOT NULL predicate, reference app/app.py:50.",
)
def filter_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isNotNull())
        .select("c_custkey", "c_mktsegment")
    )


@query(
    "filter-range",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '1996-01-01'
          AND l_quantity BETWEEN 10 AND 20
    """,
    doc="Range predicates (date + numeric BETWEEN); pushed to parquet "
    "row-group min/max stats at scale.",
)
def filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        & F.col("l_quantity").between(10, 20)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


@query(
    "filter-in",
    oracle="""
        SELECT o_orderkey, o_orderpriority
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
    doc="IN-list predicate (reference sidebar selection generalized).",
)
def filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Aggregations (reference: app/app.py:50, push_to_db.py:109-111, app/app.py:94-99)
# ---------------------------------------------------------------------------

@query(
    "agg-distinct-sorted",
    oracle="""
        SELECT DISTINCT c_mktsegment
        FROM customer
        WHERE c_mktsegment IS NOT NULL
        ORDER BY c_mktsegment
    """,
    doc="SELECT DISTINCT ... ORDER BY, reference app/app.py:50. "
    "Distinct is a partial-agg shuffle on the one column after pruning.",
)
def agg_distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_mktsegment")
        .filter(F.col("c_mktsegment").isNotNull())
        .distinct()
        .orderBy("c_mktsegment")
    )


@query(
    "agg-count",
    oracle="""
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="Grouped counts, reference push_to_db.py:42-44 running totals "
    "re-expressed as one grouped agg (map-side partial combine).",
)
def agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


@query(
    "agg-running-totals",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag)
    """,
    doc="Per-group + grand-total accumulation (reference push_to_db.py:109-111 "
    "sequential counters) as a ROLLUP — one pass, partial aggregation.",
)
def agg_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "agg-stats",
    oracle="""
        SELECT l_returnflag,
               round(sum(l_extendedprice), 2) AS sum_price,
               round(avg(l_discount), 6) AS avg_disc,
               round(min(l_extendedprice), 2) AS min_price,
               round(max(l_extendedprice), 2) AS max_price,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Full agg battery incl. count-distinct (distinct agg = extra "
    "shuffle keyed on (group, distinct-col); at 100 TB prefer "
    "approx_count_distinct unless exactness is required).",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        )
    )


@query(
    "agg-bounds",
    oracle="""
        SELECT round(min(l_extendedprice), 2) AS min_price,
               round(max(l_extendedprice), 2) AS max_price,
               min(l_shipdate) AS min_ship,
               max(l_shipdate) AS max_ship,
               round((min(l_extendedprice) + max(l_extendedprice)) / 2, 2) AS mid_price
        FROM lineitem
    """,
    doc="Global bounds + midpoint, reference total_bounds app/app.py:94-99. "
    "Single-row global agg: partial min/max per partition, tiny final reduce.",
)
def agg_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.round((F.min("l_extendedprice") + F.max("l_extendedprice")) / 2, 2).alias(
            "mid_price"
        ),
    )


@query(
    "agg-pivot",
    oracle="""
        SELECT l_returnflag,
               round(coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 0), 2) AS qty_o,
               round(coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 0), 2) AS qty_f
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Pivot on a known value domain — compiles to conditional aggregates, "
    "one shuffle (no per-value pass).",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )
    return df.select(
        "l_returnflag",
        F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("qty_o"),
        F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("qty_f"),
    )


@query(
    "tpch-q1",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary — the canonical wide-agg scan. "
    "Whole-stage-codegen single pass; no join; partial aggs map-side.",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (reference: app/app.py:50,74)
# ---------------------------------------------------------------------------

@query(
    "sort-by-key",
    oracle="SELECT n_nationkey, n_name FROM nation ORDER BY n_name",
    doc="ORDER BY string asc, reference app/app.py:50. Global sort = "
    "range-partitioned exchange; avoid at scale unless output order matters.",
)
def sort_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name").orderBy("n_name")


@query(
    "topk-by-id",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders ORDER BY o_orderkey LIMIT 1000
    """,
    doc="ORDER BY id LIMIT 1000, reference app/app.py:74. Spark plans "
    "TakeOrderedAndProject: per-partition top-k then merge — no global sort.",
)
def topk_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
        .limit(1000)
    )


@query(
    "topk-by-value",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    doc="Top-k by measure with deterministic tie-break; "
    "TakeOrderedAndProject (partition-local heap + merge).",
)
def topk_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Joins (reference: app/app.py:110-122 broadcast-dim; db_models FK intent)
# ---------------------------------------------------------------------------

@query(
    "join-broadcast-dim",
    oracle="""
        SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    doc="Dimension enrichment (reference route_colors lookup app/app.py:110-122) "
    "as an explicit broadcast hash join — no shuffle of the fact side.",
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))


@query(
    "join-fk-chain",
    oracle="""
        SELECT r.r_name AS region_name,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(sum(c.c_acctbal), 2) AS sum_bal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    doc="FK chain customer->nation->region (reference db_models.py:39-40 "
    "admin hierarchy). Both dims broadcast: zero shuffles before the agg.",
)
def join_fk_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@query(
    "join-fact-fact",
    oracle="""
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
    """,
    doc="Fact-fact equi-join orders⋈lineitem. At 100 TB this is the "
    "shuffle that dominates: both sides hash-partition on orderkey "
    "(or are pre-bucketed on it to skip the exchange); AQE handles skew.",
)
def join_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@query(
    "join-semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 300000)
    """,
    doc="Left-semi join (EXISTS): customers with at least one big order. "
    "Semi-join ships only the join key of the right side.",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join-anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-anti join (NOT EXISTS): customers with no orders — the "
    "idempotent-reload dedup primitive (SURVEY §7 replaces drop_existing).",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Set ops (reference: append-across-files, push_to_db.py:87-106)
# ---------------------------------------------------------------------------

@query(
    "union-by-name",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus <> 'F'
    """,
    doc="UNION ALL by column name (reference per-file append loop "
    "push_to_db.py:87-106). unionByName tolerates column-order drift "
    "across input files; no shuffle — partitions concatenate.",
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # deliberately different column order on the second branch
    b = o.filter(F.col("o_orderstatus") != "F").select(
        "o_totalprice", "o_orderkey", "o_orderstatus"
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Windows (reference: db_models.py:24 serial PK; created_at latest-wins)
# ---------------------------------------------------------------------------

@query(
    "derive-surrogate-key",
    oracle="""
        SELECT CAST(row_number() OVER (ORDER BY event_id) AS BIGINT) AS id,
               event_id, user_id
        FROM events
    """,
    doc="Serial-PK assignment (reference db_models.py:24) with the SAME "
    "result as a global row_number, but no single-partition sort: bin "
    "the key into fixed-width ordered buckets (pid is a PURE function "
    "of the key — sampled repartitionByRange is a trap here, its "
    "boundaries are seeded per-RDD-id so the counts branch and the "
    "probe branch of this self-referencing plan can disagree), rank "
    "locally within each bucket, then add cumulative per-bucket count "
    "offsets (a window over only #buckets rows). Distributed "
    "zipWithIndex: every stage over the data is parallel; the only "
    "global sort touches the tiny bucket-count table. Cost: one extra "
    "map-side min/max job. Skew caveat: uniform bins assume a roughly "
    "uniform key — for skewed keys compute approx-quantile bin edges "
    "instead (same plan shape).",
)
def derive_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    if lo is None:  # empty input: no key range, no buckets — stay total
        lo, hi = 0, 0
    n_buckets = 16
    width = max((int(hi) - int(lo) + n_buckets) // n_buckets, 1)
    # pid ascends with event_id range, so
    # global_rank = per-bucket rank + sum(counts of earlier buckets)
    parted = ev.withColumn(
        "pid", F.floor((F.col("event_id") - F.lit(int(lo))) / F.lit(width))
    )
    w_local = Window.partitionBy("pid").orderBy("event_id")
    local = parted.withColumn("local_rn", F.row_number().over(w_local))
    counts = local.groupBy("pid").agg(F.count("*").alias("cnt"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset")
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .select(
            (F.col("offset") + F.col("local_rn")).cast("long").alias("id"),
            "event_id",
            "user_id",
        )
    )


@query(
    "window-latest-per-key",
    oracle="""
        SELECT user_id, event_id, ts, event_type
        FROM (
            SELECT user_id, event_id, ts, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    doc="Latest row per key (reference created_at latest-wins dedup, "
    "db_models.py:54-55). Partitioned window — scales: one shuffle on "
    "user_id, per-partition sort, no global order.",
)
def window_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


@query(
    "window-topk-per-group",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    doc="Top-3 orders per customer — windowed top-k; Spark pushes the "
    "rank filter into the window sort (WindowGroupLimit) so per-group "
    "state stays bounded.",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "window-running-sum",
    oracle="""
        SELECT user_id, event_id, ts,
               round(sum(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                   AS running_value
        FROM events WHERE ts IS NOT NULL
    """,
    doc="Running per-key sum ordered by time — sequential fold per key, "
    "identical order on both engines so doubles match bit-for-bit "
    "(rounded for safety).",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows without a timestamp cannot be sequenced (engines disagree on
    # NULL sort placement) — excluded on BOTH engines
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


@query(
    "window-lag-delta",
    oracle="""
        SELECT user_id, event_id, ts,
               round(value - coalesce(lag(value) OVER (PARTITION BY user_id
                                                       ORDER BY ts, event_id), 0), 4)
                   AS delta
        FROM events WHERE ts IS NOT NULL
    """,
    doc="lag() delta per key — sessionization building block "
    "(gap detection per SURVEY §2.10 / guide sessionization pattern).",
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(
            F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0)), 4
        ).alias("delta"),
    )


# ---------------------------------------------------------------------------
# Map lookup with default (reference: app/app.py:110-122 route_colors)
# ---------------------------------------------------------------------------

@query(
    "map-lookup-default",
    oracle="""
        SELECT event_id, event_type,
               CASE event_type
                   WHEN 'click' THEN '#e41a1c'
                   WHEN 'view' THEN '#377eb8'
                   WHEN 'purchase' THEN '#4daf4a'
                   WHEN 'signup' THEN '#984ea3'
                   ELSE '#3388ff'
               END AS color
        FROM events
    """,
    doc="Categorical dict lookup with fallback (reference route_colors.get, "
    "app/app.py:110-122) as create_map[key] + coalesce — pure codegen, "
    "no join, no UDF.",
)
def map_lookup_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    colors = F.create_map(
        F.lit("click"), F.lit("#e41a1c"),
        F.lit("view"), F.lit("#377eb8"),
        F.lit("purchase"), F.lit("#4daf4a"),
        F.lit("signup"), F.lit("#984ea3"),
    )
    return ev.select(
        "event_id",
        "event_type",
        F.coalesce(colors[F.col("event_type")], F.lit("#3388ff")).alias("color"),
    )


@query(
    "agg-mode",
    oracle="""
        WITH counted AS (
            SELECT c.c_mktsegment, o.o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment, o.o_orderpriority
        )
        SELECT c_mktsegment, o_orderpriority AS modal_priority, n
        FROM (
            SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                         ORDER BY n DESC, o_orderpriority) AS rn
            FROM counted
        )
        WHERE rn = 1
        ORDER BY c_mktsegment
    """,
    doc="Per-group mode (most frequent value) with a DETERMINISTIC "
    "tie-break — count per (group, value), then a per-group top-1 via "
    "row_number ordered by (count DESC, value): one partial-aggregated "
    "shuffle plus a WindowGroupLimit-prunable window, never a "
    "collect+sort of the value domain. Built-in mode() aggregates "
    "leave ties implementation-defined, which is exactly what a "
    "cross-engine gate can't accept.",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    counted = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("modal_priority"),
            "n",
        )
        .orderBy("c_mktsegment")
    )


@query(
    "join-null-safe",
    oracle="""
        WITH tagged AS (
            SELECT CASE WHEN event_id % 13 = 0 THEN NULL
                        ELSE event_id % 10 END AS bucket,
                   event_id
            FROM events
        ),
        a AS (
            SELECT bucket, CAST(count(*) AS BIGINT) AS n_even
            FROM tagged WHERE event_id % 2 = 0 GROUP BY bucket
        ),
        b AS (
            SELECT bucket, CAST(count(*) AS BIGINT) AS n_odd
            FROM tagged WHERE event_id % 2 = 1 GROUP BY bucket
        )
        SELECT coalesce(a.bucket, b.bucket) AS bucket,
               a.bucket IS NULL AND b.bucket IS NULL AS is_null_key,
               coalesce(a.n_even, 0) AS n_even,
               coalesce(b.n_odd, 0) AS n_odd
        FROM a FULL OUTER JOIN b ON a.bucket IS NOT DISTINCT FROM b.bucket
    """,
    doc="NULL-safe equi-join (<=> / IS NOT DISTINCT FROM): two halves "
    "of the events table aggregated per nullable bucket, full-outer "
    "joined so the NULL-bucket rows MATCH each other instead of "
    "producing two dangling rows (what plain = does, the classic "
    "silent-data-loss bug when join keys are nullable). Catalyst "
    "plans <=> as an ordinary hash join (null hashes like any value), "
    "so the fix costs nothing at 100 TB — unlike the "
    "coalesce-to-sentinel workaround, which risks sentinel collisions.",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
        F.col("event_id") % 10
    )
    tagged = ev.select(bucket.alias("bucket"), "event_id")
    a = (
        tagged.filter(F.col("event_id") % 2 == 0)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_even"))
    )
    b = (
        tagged.filter(F.col("event_id") % 2 == 1)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_odd"))
    )
    aa, bb = a.alias("a"), b.alias("b")
    joined = aa.join(
        bb, F.col("a.bucket").eqNullSafe(F.col("b.bucket")), "full_outer"
    )
    return joined.select(
        F.coalesce(F.col("a.bucket"), F.col("b.bucket")).alias("bucket"),
        (F.col("a.bucket").isNull() & F.col("b.bucket").isNull()).alias("is_null_key"),
        F.coalesce(F.col("a.n_even"), F.lit(0)).alias("n_even"),
        F.coalesce(F.col("b.n_odd"), F.lit(0)).alias("n_odd"),
    )


@query(
    "join-late-materialize",
    oracle="""
        WITH ranked AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        top_ids AS (
            SELECT doc_id, n_tokens FROM ranked
            ORDER BY n_tokens DESC, doc_id LIMIT 100
        )
        SELECT t.doc_id, t.n_tokens, d.lang,
               substr(d.text, 1, 40) AS preview
        FROM top_ids t JOIN documents d ON t.doc_id = d.doc_id
    """,
    doc="Late materialization: rank on NARROW columns first (the "
    "ranking scan reads doc_id + a token count; TakeOrderedAndProject "
    "keeps 100 rows), then fetch the WIDE text payload only for the "
    "winners via a key join (the 100-row side broadcasts). The "
    "columnar-engine trick as a plan shape: at 100 TB sorting/"
    "shuffling rows that carry multi-KB text bodies costs 100x the "
    "narrow projection, so every select-then-display query should "
    "shuffle ids and re-attach payloads last — the same "
    "ids-only-through-the-shuffle discipline as dedup-lsh-tuning's "
    "candidate join.",
)
def join_late_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # narrow pass: Catalyst prunes the scan to (doc_id, text->count);
    # the heavy text column rides only the final 100-row fetch
    ranked = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    top_ids = ranked.orderBy(F.col("n_tokens").desc(), "doc_id").limit(100)
    return (
        F.broadcast(top_ids)
        .join(d, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "lang",
            F.substring("text", 1, 40).alias("preview"),
        )
    )


@query(
    "join-eager-aggregation",
    oracle="""
        WITH li_pre AS (
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS order_rev,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem
            GROUP BY l_orderkey
        )
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(p.n_lines) AS BIGINT) AS n_lines,
               round(sum(p.order_rev), 2) AS total_rev
        FROM orders o JOIN li_pre p ON o.o_orderkey = p.l_orderkey
        GROUP BY o.o_orderpriority
    """,
    doc="Eager aggregation (aka partial group-by pushdown below a "
    "join): lineitem collapses to per-order partials BEFORE joining "
    "orders, so the join probes |orders| rows instead of |lineitem| "
    "— a 4x input reduction here and often 100x in star schemas. "
    "Catalyst does not rewrite this automatically (it is a "
    "cost-based transformation some engines call 'group-by "
    "placement'), so the operator spells the shape manually; "
    "correctness holds because revenue is additive and the final "
    "groupBy re-aggregates the partials. Both shuffles are on "
    "orderkey, so AQE can even co-locate them. The manual twin of "
    "what join-late-materialize does for wide columns.",
)
def join_eager_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    li_pre = li.groupBy("l_orderkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "order_rev"
        ),
        F.count("*").cast("long").alias("n_lines"),
    )
    return (
        o.join(li_pre, o.o_orderkey == li_pre.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.round(F.sum("order_rev"), 2).alias("total_rev"),
        )
    )


@query(
    "join-not-in-null-semantics",
    oracle="""
        WITH probe AS (
            SELECT count(*) AS n_total FROM customer
        ),
        no_nulls AS (
            SELECT count(*) AS n FROM customer
            WHERE c_custkey NOT IN (
                SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL
            )
        ),
        with_null AS (
            SELECT count(*) AS n FROM customer
            WHERE c_custkey NOT IN (
                SELECT CASE WHEN o_orderkey % 1000 = 7 THEN NULL
                            ELSE o_custkey END
                FROM orders
            )
        )
        SELECT CAST(probe.n_total AS BIGINT) AS n_customers,
               CAST(no_nulls.n AS BIGINT) AS not_in_clean,
               CAST(with_null.n AS BIGINT) AS not_in_with_null
        FROM probe, no_nulls, with_null
    """,
    doc="NOT IN three-valued-logic semantics as an operator contract: "
    "against a NULL-free subquery NOT IN is a plain anti join "
    "(customers with no orders), but ONE NULL in the list makes "
    "every NOT IN comparison UNKNOWN and the result EMPTY — the "
    "most-reported 'wrong results' bug in SQL migrations. Spark "
    "plans the nullable case as a null-aware anti join "
    "(NAAJ) rather than silently rewriting to NOT EXISTS; this op "
    "pins counts for BOTH forms so an engine upgrade that breaks "
    "either semantics diffs immediately (join-anti covers the "
    "NULL-free fast path). Both sides are single-key anti joins — "
    "broadcast at dim size, shuffle at scale.",
    tags=("join",),
)
def join_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c.createOrReplaceTempView("tss_naaj_cust")
    o.createOrReplaceTempView("tss_naaj_orders")
    try:
        return c.sparkSession.sql(
            """
            WITH probe AS (
                SELECT count(*) AS n_total FROM tss_naaj_cust
            ),
            no_nulls AS (
                SELECT count(*) AS n FROM tss_naaj_cust
                WHERE c_custkey NOT IN (
                    SELECT o_custkey FROM tss_naaj_orders
                    WHERE o_custkey IS NOT NULL
                )
            ),
            with_null AS (
                SELECT count(*) AS n FROM tss_naaj_cust
                WHERE c_custkey NOT IN (
                    SELECT CASE WHEN o_orderkey % 1000 = 7 THEN NULL
                                ELSE o_custkey END
                    FROM tss_naaj_orders
                )
            )
            SELECT CAST(probe.n_total AS BIGINT) AS n_customers,
                   CAST(no_nulls.n AS BIGINT) AS not_in_clean,
                   CAST(with_null.n AS BIGINT) AS not_in_with_null
            FROM probe, no_nulls, with_null
            """
        )
    finally:
        c.sparkSession.catalog.dropTempView("tss_naaj_cust")
        c.sparkSession.catalog.dropTempView("tss_naaj_orders")
