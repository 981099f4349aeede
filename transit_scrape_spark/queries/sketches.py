"""Relational sketch structures: count-min and bloom filter built from
plain hash + groupBy primitives, bit-identical across engines.

Unlike the opaque-sketch ops (agg-approx-sketch / agg-sketch-merge,
whose binary sketches differ across engines and are oracled by
tolerance contracts), these spell the sketch math out as expressions —
so DuckDB reproduces the exact same structure and the oracle checks
VALUES, and the ops double as executable documentation of how the
sketches behave at 100 TB (bounded state per partition, merge = SUM /
OR, one-sided error only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_scrape_spark.operators.dedup import sql_string_hash, string_hash
from transit_scrape_spark.queries.registry import query
from transit_scrape_spark.session import cache_width
from transit_scrape_spark.sources.tables import load_table

# Count-min geometry: D hash rows x W buckets. State is D*W counters
# regardless of vocabulary size — the whole point at 100 TB.
_CMS_D, _CMS_W = 4, 256

# Bloom geometry: K hash functions into W bit positions.
_BLOOM_K, _BLOOM_W = 3, 4096


def _cms_bucket(col, d: int):
    return string_hash(F.concat(col, F.lit(f":cms{d}"))) % _CMS_W


def _sql_cms_bucket(expr: str, d: str) -> str:
    keyed = f"{expr} || ':cms' || CAST({d} AS VARCHAR)"
    return f"({sql_string_hash(keyed)}) % {_CMS_W}"


@query(
    "agg-count-min-sketch",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ),
        counted AS (
            SELECT token, CAST(count(*) AS BIGINT) AS exact_n
            FROM tok GROUP BY token
        ),
        cells AS (
            SELECT d, {_sql_cms_bucket('token', 'd')} AS bucket,
                   CAST(sum(exact_n) AS BIGINT) AS cell_n
            FROM counted, (SELECT unnest(range(0, {_CMS_D})) AS d)
            GROUP BY 1, 2
        ),
        probe AS (
            SELECT token, exact_n, d, {_sql_cms_bucket('token', 'd')} AS bucket
            FROM counted, (SELECT unnest(range(0, {_CMS_D})) AS d)
            WHERE exact_n >= 100
        )
        SELECT p.token, p.exact_n,
               CAST(min(c.cell_n) AS BIGINT) AS cms_est,
               (min(c.cell_n) >= p.exact_n) AS never_underestimates
        FROM probe p JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
        GROUP BY p.token, p.exact_n
    """,
    doc="Count-min sketch spelled relationally: token counts fold into "
    "a fixed D=4 x W=256 counter grid (state independent of vocabulary "
    "size), point estimate = min over the D cells a token hashes to; "
    "the one-sided-error guarantee (est >= exact, collisions only "
    "inflate) is emitted as a checked boolean per heavy token. The "
    "100 TB shape: each partition folds its slice into its own grid "
    "(map-side combine over 1024 cells), merge = elementwise SUM — the "
    "shuffle carries D*W counters per partition, nothing scales with "
    "the corpus.",
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counted = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("exact_n"))
    )
    hashes = F.array(
        *[
            F.struct(F.lit(dd).alias("d"), _cms_bucket(F.col("token"), dd).alias("bucket"))
            for dd in range(_CMS_D)
        ]
    )
    exploded = counted.select("token", "exact_n", F.explode(hashes).alias("h")).select(
        "token", "exact_n", F.col("h.d").alias("d"), F.col("h.bucket").alias("bucket")
    )
    cells = exploded.groupBy("d", "bucket").agg(F.sum("exact_n").alias("cell_n"))
    probe = exploded.filter(F.col("exact_n") >= 100)
    return (
        probe.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("cell_n").alias("cms_est"))
        .select(
            "token",
            "exact_n",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_n")).alias("never_underestimates"),
        )
    )


def _sql_bloom_bit(expr: str, k: str) -> str:
    keyed = f"CAST({expr} AS VARCHAR) || ':bloom' || CAST({k} AS VARCHAR)"
    return f"({sql_string_hash(keyed)}) % {_BLOOM_W}"


@query(
    "join-bloom-prefilter",
    oracle=f"""
        WITH members AS (
            SELECT p_partkey FROM part WHERE p_size = 15
        ),
        bits AS (
            SELECT DISTINCT {_sql_bloom_bit('p_partkey', 'k')} AS bit
            FROM members, (SELECT unnest(range(0, {_BLOOM_K})) AS k)
        ),
        probe AS (
            SELECT DISTINCT l_partkey FROM lineitem
        ),
        hits AS (
            SELECT l_partkey, CAST(count(*) AS BIGINT) AS k_hits
            FROM (SELECT p.l_partkey, {_sql_bloom_bit('p.l_partkey', 'u.k')} AS bit
                  FROM probe p, (SELECT unnest(range(0, {_BLOOM_K})) AS k) u) h
            WHERE bit IN (SELECT bit FROM bits)
            GROUP BY l_partkey
        ),
        flagged AS (
            SELECT p.l_partkey,
                   coalesce(h.k_hits, 0) = {_BLOOM_K} AS might_contain,
                   p.l_partkey IN (SELECT p_partkey FROM members) AS is_member
            FROM probe p LEFT JOIN hits h ON p.l_partkey = h.l_partkey
        )
        SELECT CAST(count(*) AS BIGINT) AS n_probe_keys,
               CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
               CAST(sum(CASE WHEN might_contain THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
               CAST(sum(CASE WHEN might_contain AND NOT is_member THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos,
               (sum(CASE WHEN is_member AND NOT might_contain THEN 1 ELSE 0 END) = 0)
                   AS no_false_negatives
        FROM flagged
    """,
    doc="Bloom-filter semi-join reduction, spelled relationally: the "
    "selective dim side (p_size=15 parts) folds into K=3 bit positions "
    "in a W=4096-bit space; fact keys pass only if ALL K bits are set. "
    "Emits the filter's measured contract: zero false negatives "
    "(checked boolean) plus the false-positive count the W/K choice "
    "buys. THE pre-shuffle reduction at 100 TB: ship the ~KB bit set "
    "to every fact scan task and drop non-matching rows before the "
    "join exchange — what Spark's runtime bloom-filter join injection "
    "does under AQE, here as an explicit, engine-checkable plan.",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    # distinct: the oracle's IN-subquery is set-semantics, while a
    # duplicated dimension row would fan out the membership join
    members = part.filter(F.col("p_size") == 15).select("p_partkey").distinct()
    k_arr = F.array(*[F.lit(k) for k in range(_BLOOM_K)])
    bits = (
        members.select(F.explode(k_arr).alias("k"), "p_partkey")
        .select(
            string_hash(
                F.concat(
                    F.col("p_partkey").cast("string"),
                    F.lit(":bloom"),
                    F.col("k").cast("string"),
                )
            ).alias("raw")
        )
        .select((F.col("raw") % _BLOOM_W).alias("bit"))
        .distinct()
    )
    probe = li.select("l_partkey").distinct()
    probe_bits = probe.select(
        "l_partkey", F.explode(k_arr).alias("k")
    ).select(
        "l_partkey",
        (
            string_hash(
                F.concat(
                    F.col("l_partkey").cast("string"),
                    F.lit(":bloom"),
                    F.col("k").cast("string"),
                )
            )
            % _BLOOM_W
        ).alias("bit"),
    )
    hits = (
        probe_bits.join(F.broadcast(bits), "bit")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("k_hits"))
    )
    flagged = (
        probe.join(hits, "l_partkey", "left")
        .join(
            F.broadcast(members.withColumnRenamed("p_partkey", "l_partkey")).withColumn(
                "is_member", F.lit(True)
            ),
            "l_partkey",
            "left",
        )
        .select(
            (F.coalesce(F.col("k_hits"), F.lit(0)) == _BLOOM_K).alias("might_contain"),
            F.coalesce(F.col("is_member"), F.lit(False)).alias("is_member"),
        )
    )
    return flagged.agg(
        F.count("*").alias("n_probe_keys"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).cast("long").alias("n_members"),
        F.sum(F.when(F.col("might_contain"), 1).otherwise(0)).cast("long").alias("n_pass"),
        F.sum(F.when(F.col("might_contain") & ~F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
        (
            F.sum(F.when(F.col("is_member") & ~F.col("might_contain"), 1).otherwise(0))
            == 0
        ).alias("no_false_negatives"),
    )


@query(
    "agg-kmv-sketch",
    oracle="""
        WITH du AS (
            SELECT DISTINCT event_type, user_id,
                   ((user_id * 2654435761 % 2147483648) + 0.5)
                       / 2147483648.0 AS u
            FROM events WHERE event_type IN ('click', 'view')
        ),
        ranked AS (
            SELECT event_type, user_id, u,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY u, user_id) AS rk
            FROM du
        ),
        kth AS (
            SELECT event_type, max(u) AS uk
            FROM ranked WHERE rk <= 64 GROUP BY event_type
        ),
        exact AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
            FROM du GROUP BY event_type
        ),
        uni AS (
            SELECT user_id, u,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS in_a,
                   max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       AS in_b
            FROM du GROUP BY user_id, u
        ),
        uranked AS (
            SELECT *, row_number() OVER (ORDER BY u, user_id) AS rk
            FROM uni
        ),
        usk AS (
            SELECT max(u) AS uk_union,
                   CAST(sum(in_a * in_b) AS DOUBLE) / 64 AS jacc_est
            FROM uranked WHERE rk <= 64
        )
        SELECT e.event_type, e.exact_distinct,
               round(63.0 / k.uk, 2) AS kmv_estimate,
               round(abs(63.0 / k.uk - e.exact_distinct)
                     / e.exact_distinct, 4) AS rel_err,
               round((SELECT jacc_est * (63.0 / uk_union) FROM usk), 2)
                   AS est_intersection
        FROM exact e JOIN kth k ON k.event_type = e.event_type
        ORDER BY e.event_type
    """,
    doc="KMV (k-minimum-values) distinct sketch, k=64, spelled "
    "relationally: hash every member to a deterministic uniform "
    "(the same portable Knuth mix as stats-srm-check — no engine "
    "builtin hash, both sides bit-identical), keep each set's 64 "
    "smallest, estimate |S| = (k-1)/u_(k). The estimator theta "
    "sketches build on — and unlike HLL, KMV supports "
    "INTERSECTION: the union sketch's members that belong to "
    "both sets give a Jaccard estimate, x union size = "
    "|click AND view| without ever counting it exactly. Exact "
    "distincts computed alongside so the output quantifies its "
    "own error. All sketch state is k rows per set "
    "(WindowGroupLimit prunes the rank); at 100 TB the k-smallest "
    "per partition merge to k-smallest overall — associative, "
    "map-side, bounded.",
    tags=("agg", "sketch"),
)
def agg_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    u = ((F.col("user_id") * 2654435761 % 2147483648) + 0.5) / 2147483648.0
    # persist the distinct (type, user) relation: the per-type k-th
    # minimum, the exact counts and the union sketch all re-consumed it
    # (3 events scans -> 1); summary cache width per session.cache_width
    du = (
        ev.select("event_type", "user_id").distinct().withColumn("u", u)
        .coalesce(cache_width(spark))
        .persist()
    )
    wr = Window.partitionBy("event_type").orderBy("u", "user_id")
    kth = (
        du.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 64)
        .groupBy("event_type")
        .agg(F.max("u").alias("uk"))
    )
    exact = du.groupBy("event_type").agg(
        F.count("*").cast("long").alias("exact_distinct")
    )
    uni = du.groupBy("user_id", "u").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "in_a"
        ),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "in_b"
        ),
    )
    wu = Window.orderBy("u", "user_id")
    usk = (
        uni.withColumn("rk", F.row_number().over(wu))
        .filter(F.col("rk") <= 64)
        .agg(
            F.max("u").alias("uk_union"),
            (F.sum(F.col("in_a") * F.col("in_b")).cast("double") / 64).alias(
                "jacc_est"
            ),
        )
    )
    est = 63.0 / F.col("uk")
    return (
        exact.join(kth, "event_type")
        .crossJoin(F.broadcast(usk))
        .select(
            "event_type",
            "exact_distinct",
            F.round(est, 2).alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
            F.round(
                F.col("jacc_est") * (63.0 / F.col("uk_union")), 2
            ).alias("est_intersection"),
        )
        .orderBy("event_type")
    )
