"""Advanced relational + ANN scale-path operators.

- sign-LSH bucketed similarity search (the 100 TB path promised in
  SURVEY §2.12: bucket first, rank within bucket — bucket id doubles as
  a partition key so candidate generation never shuffles vectors);
- sessionization (lag + cumulative gap counter);
- set operations, cube, exact percentiles, unpivot.

All fully oracled: LSH hyperplanes use deterministic integer weights so
DuckDB reproduces buckets bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from transit_scrape_spark.functions.vectors import as_double, cosine
from transit_scrape_spark.queries.registry import query
from transit_scrape_spark.sources.tables import load_table

# --- deterministic sign-LSH hyperplanes -----------------------------------

N_PLANES = 8
DIM = 64


def _plane_weight(k: int, i: int) -> int:
    return ((1103515245 * (k * DIM + i) + 12345) % 2001) - 1000


def _plane_lit(k: int):
    return F.array(*[F.lit(float(_plane_weight(k, i))) for i in range(DIM)])


def _sql_plane(k: int) -> str:
    return "[" + ", ".join(str(float(_plane_weight(k, i))) for i in range(DIM)) + "]"


def lsh_bucket(v) -> F.Column:
    """Sign-LSH bucket id: bit j set when dot(v, plane_j) > 0."""
    out = F.lit(0).cast("long")
    for k in range(N_PLANES):
        d = F.aggregate(
            F.zip_with(v, _plane_lit(k), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(d > 0, F.lit(1 << k)).otherwise(F.lit(0))
    return out


def _sql_bucket(v: str) -> str:
    terms = [
        f"CASE WHEN list_dot_product({v}, {_sql_plane(k)}) > 0 THEN {1 << k} ELSE 0 END"
        for k in range(N_PLANES)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@query(
    "simsearch-lsh-bucket",
    oracle=f"""
        SELECT {_sql_bucket('CAST(embedding AS DOUBLE[])')} AS bucket,
               count(*) AS n_vectors
        FROM embeddings WHERE embedding IS NOT NULL
        GROUP BY 1
    """,
    doc="Sign-LSH bucketing (8 deterministic hyperplanes -> 256 buckets): "
    "the partition key of the ANN scale path. At 100 TB the table is "
    "written partitioned by bucket; a query probes one partition "
    "(plus neighbors for recall) instead of scanning everything.",
)
def simsearch_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return (
        e.select(lsh_bucket(as_double(F.col("embedding"))).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


@query(
    "simsearch-lsh-probe",
    oracle=f"""
        WITH tagged AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {_sql_bucket('CAST(embedding AS DOUBLE[])')} AS bucket
            FROM embeddings WHERE embedding IS NOT NULL
        ), q AS (SELECT v AS qv, bucket AS qbucket FROM tagged WHERE vec_id = 1)
        SELECT vec_id,
               round(list_dot_product(v, (SELECT qv FROM q))
                     / (sqrt(list_dot_product(v, v))
                        * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))), 6) AS sim
        FROM tagged
        WHERE bucket = (SELECT qbucket FROM q) AND vec_id <> 1
        ORDER BY sim DESC, vec_id
        LIMIT 5
    """,
    doc="LSH-probed ANN search: score ONLY the query vector's bucket "
    "(candidate set ~ n/256), then exact cosine top-k inside it. "
    "Approximate by construction (single-probe recall < 1); brute-force "
    "twin is simsearch-topk. Bucket equality is a pushable predicate -> "
    "partition pruning at scale.",
)
def simsearch_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    tagged = e.select(
        "vec_id",
        as_double(F.col("embedding")).alias("v"),
        lsh_bucket(as_double(F.col("embedding"))).alias("bucket"),
    )
    q = tagged.filter(F.col("vec_id") == 1).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qbucket")
    )
    return (
        tagged.join(F.broadcast(q))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != 1))
        .select("vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(5)
    )


N_CENTROIDS = 8
KMEANS_ITERS = 2


def _kmeans_assign_sql(vecs: str, cents: str, out: str) -> str:
    """One Lloyd assignment: each vector -> nearest centroid by squared
    L2 (list_zip lambda keeps the element-wise summation order identical
    to Spark's F.aggregate accumulate), ties broken by lowest cell."""
    return f"""
        {out} AS (
            SELECT vec_id, v, cell FROM (
                SELECT {vecs}.vec_id, {vecs}.v, {cents}.cell,
                       row_number() OVER (PARTITION BY {vecs}.vec_id
                           ORDER BY list_sum(list_transform(
                               list_zip({vecs}.v, {cents}.c),
                               x -> (x[1] - x[2]) * (x[1] - x[2]))),
                               {cents}.cell) AS rn
                FROM {vecs} CROSS JOIN {cents}
            ) t WHERE rn = 1
        )"""


def _kmeans_update_sql(assigned: str, old: str, out: str) -> str:
    """Lloyd update: per-cell element-wise mean (rounded to 9 dp to
    absorb summation-order last-bit drift vs Spark's partial aggs);
    empty cells keep their previous centroid."""
    return f"""
        {out}_m AS (
            SELECT cell, idx, round(avg(v[idx]), 9) AS m
            FROM {assigned} CROSS JOIN range(1, {DIM + 1}) AS r(idx)
            GROUP BY cell, idx
        ),
        {out} AS (
            SELECT {old}.cell, coalesce(l.c, {old}.c) AS c
            FROM {old} LEFT JOIN (
                SELECT cell, list(m ORDER BY idx) AS c FROM {out}_m GROUP BY cell
            ) l USING (cell)
        )"""


def _ivf_kmeans_oracle() -> str:
    init_ids = ", ".join(str(c * 7 + 2) for c in range(N_CENTROIDS))
    parts = [
        f"""vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
        c0 AS (
            SELECT CAST((vec_id - 2) // 7 + 1 AS BIGINT) AS cell, v AS c
            FROM vecs WHERE vec_id IN ({init_ids})
        )"""
    ]
    for it in range(KMEANS_ITERS):
        parts.append(_kmeans_assign_sql("vecs", f"c{it}", f"a{it + 1}"))
        parts.append(_kmeans_update_sql(f"a{it + 1}", f"c{it}", f"c{it + 1}"))
    parts.append(_kmeans_assign_sql("vecs", f"c{KMEANS_ITERS}", "af"))
    parts.append("q AS (SELECT v AS qv, cell AS qcell FROM af WHERE vec_id = 1)")
    return f"""
        WITH {", ".join(parts)}
        SELECT af.vec_id,
               round(list_dot_product(af.v, q.qv)
                     / (sqrt(list_dot_product(af.v, af.v))
                        * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
        FROM af, q
        WHERE af.cell = q.qcell AND af.vec_id <> 1
        ORDER BY sim DESC, vec_id
        LIMIT 5
    """


@query(
    "simsearch-ivf-probe",
    oracle=_ivf_kmeans_oracle(),
    doc="IVF ANN probe with centroids TRAINED by distributed Lloyd "
    "k-means (2 iterations, deterministic vec_id-sampled init): each "
    "iteration is ONE Arrow kernel pass that assigns vectors "
    "(vectorized numpy squared-L2, bit-identical fold order to the "
    "expression form) and emits per-partition (cell, count, sum) "
    "partials, then a k x dim shuffle + O(k*dim) centroid collect — "
    "the MLlib KMeans shape, driver traffic independent of corpus "
    "size. Final: squared-L2 assignment against broadcast centroid "
    "literals in codegen; query probes only its own cell, exact "
    "cosine top-k within. Cell is a partition key at scale; centroids "
    "round to 9 dp each iteration so the DuckDB oracle (same unrolled "
    "Lloyd steps) matches independent of partial-agg summation order.",
)
def simsearch_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    # init: one driver job fetches the k sampled seed vectors (a
    # per-centroid collect loop is k sequential round-trips — the r1
    # bench's slowest op)
    cent_ids = [c * 7 + 2 for c in range(N_CENTROIDS)]
    fetched = {
        r["vec_id"]: r["cv"]
        for r in e.filter(F.col("vec_id").isin(cent_ids))
        .select("vec_id", as_double(F.col("embedding")).alias("cv"))
        .collect()
    }
    # absent seed ids (empty/sparse corpus) are DROPPED, mirroring the
    # oracle's c0 CTE which only materializes present seeds — padding
    # zero vectors instead would train k cells while the oracle trains
    # fewer, diverging on sparse-but-nonempty corpora. Each kept
    # centroid carries its ORIGINAL cell id so assignment labels match
    # the oracle's (vec_id - 2) // 7 + 1 numbering.
    cells = [c + 1 for c in range(N_CENTROIDS) if cent_ids[c] in fetched]
    cents = [list(fetched[cent_ids[c]]) for c in range(N_CENTROIDS) if cent_ids[c] in fetched]
    if not cells:
        # no seed vectors at all: the oracle's c0 is empty so every
        # downstream CTE (and the result) is empty — mirror exactly
        return e.select("vec_id", F.lit(0.0).alias("sim")).filter(F.lit(False))

    v = as_double(F.col("embedding"))
    # persist the parsed vectors: init + each Lloyd iteration + the final
    # probe all re-consume them (4 actions); without the cache every one
    # re-scans parquet and re-casts the arrays. At cluster scale this is
    # the standard cache-the-training-set posture; memory = corpus
    # vectors only, not intermediates.
    # vec_id is the vector KEY: duplicate (re-ingested) rows collapse to
    # one, or the Lloyd update double-weights them while the oracle's
    # per-vec_id row_number assignment counts them once (caught by the
    # duplicate-hostile sweep)
    vecs = (
        e.select("vec_id", v.alias("v")).dropDuplicates(["vec_id"]).persist()
    )

    def assign(df: DataFrame, cs: list[list[float]]) -> DataFrame:
        # ONE nested-literal array + transform instead of k separate
        # fold trees: same broadcast-centroids-as-code, shuffle-free
        # assignment, but 1/k the generated code (k fold trees made
        # codegen dominate the op's wall time in local mode)
        cents_lit = F.array(
            *[F.array(*[F.lit(x) for x in cv]) for cv in cs]
        )
        dists = F.transform(
            cents_lit,
            lambda c: F.aggregate(
                F.zip_with(F.col("v"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        # array_position returns the FIRST minimum = lowest cell among
        # ties (cells are ascending), matching the oracle's row_number
        # ORDER BY dist, cell; map position -> original cell id
        pos = F.array_position(dists, F.array_min(dists)).cast("int")
        cell = F.element_at(F.array(*[F.lit(c) for c in cells]), pos)
        return df.select("vec_id", "v", cell.cast("bigint").alias("cell"))

    # Lloyd iterations: ONE Arrow kernel per iteration computes the
    # assignment AND the per-partition (cell, count, sum-vector)
    # partials in vectorized numpy — the MLlib KMeans shape (partial
    # aggregation per partition, a k x dim shuffle, an O(k*dim)
    # driver collect). r11's HOF form (transform/aggregate/zip_with
    # over broadcast centroid literals) is an INTERPRETED expression
    # tree — ~20M lambda evaluations per pass dominated the op (guide
    # §4.2: hand whole batches to native code). The kernel's distance
    # fold adds (v[i]-c[i])^2 in ascending-i order, bit-identical to
    # the zip_with/aggregate fold it replaces, and NaN/argmin
    # tie-breaking mirrors array_min/array_position (NaN never wins
    # unless every distance is NaN; first minimum = lowest cell).
    # Per-cell means stay round(sum/count, 9), absorbing partial-order
    # drift exactly as before. The final probe assignment below keeps
    # the expression path (one pass; its output feeds codegen cosine).
    def lloyd_partials(cs: list[list[float]]):
        import numpy as np
        import pyarrow as pa

        C = np.asarray(cs, dtype=np.float64)  # k x DIM
        k = C.shape[0]

        def fn(batches):
            cnt = np.zeros(k, dtype=np.int64)
            sums = np.zeros((k, DIM), dtype=np.float64)
            import pyarrow.compute as pc

            for b in batches:
                col = b.column(b.schema.get_field_index("v"))
                if (
                    col.null_count == 0
                    and len(col) > 0
                    and pc.min(pc.list_value_length(col)).as_py() == DIM
                    and pc.max(pc.list_value_length(col)).as_py() == DIM
                    and col.flatten().null_count == 0
                ):
                    # rectangular, null-free: zero-copy reshape
                    V = col.flatten().to_numpy(
                        zero_copy_only=False
                    ).reshape(-1, DIM)
                else:
                    # rows that would assign to a NULL cell in the
                    # expression form (wrong length / null element)
                    # contribute to no mean — drop them
                    rows = col.to_pylist()
                    ok = [
                        r for r in rows
                        if r is not None and len(r) == DIM
                        and all(x is not None for x in r)
                    ]
                    if not ok:
                        continue
                    V = np.asarray(ok, dtype=np.float64)  # n x DIM
                D = np.zeros((V.shape[0], k), dtype=np.float64)
                for i in range(DIM):  # ascending-i fold = zip_with order
                    d = V[:, i, None] - C[None, :, i]
                    D += d * d
                valid = ~np.isnan(D)
                Dm = np.where(valid, D, np.inf)
                mv = Dm.min(axis=1)
                eq = (Dm == mv[:, None]) & valid
                idx = eq.argmax(axis=1)  # first minimum (lowest cell)
                idx[~valid.any(axis=1)] = 0  # all-NaN: first position
                for j in range(k):
                    m = idx == j
                    if m.any():
                        cnt[j] += int(m.sum())
                        sums[j] += V[m].sum(axis=0)
            present = cnt > 0
            yield pa.RecordBatch.from_pylist(
                [
                    {
                        "cell": int(cells[j]),
                        "cnt": int(cnt[j]),
                        "sums": [float(x) for x in sums[j]],
                    }
                    for j in range(k)
                    if present[j]
                ],
                schema=pa.schema(
                    [
                        ("cell", pa.int64()),
                        ("cnt", pa.int64()),
                        ("sums", pa.list_(pa.float64())),
                    ]
                ),
            )

        return fn

    for _ in range(KMEANS_ITERS):
        partials = vecs.select("v").mapInArrow(
            lloyd_partials(cents), "cell long, cnt long, sums array<double>"
        )
        mrows = (
            partials.select("cell", "cnt", F.posexplode("sums").alias("idx", "val"))
            .groupBy("cell", "idx")
            .agg(F.round(F.sum("val") / F.sum("cnt"), 9).alias("m"))
            .collect()
        )
        got: dict[int, list] = {}
        for r in mrows:
            got.setdefault(int(r["cell"]), [None] * DIM)[r["idx"]] = r["m"]
        cents = [got.get(cells[j], cents[j]) for j in range(len(cells))]

    assigned = assign(vecs, cents)
    q = assigned.filter(F.col("vec_id") == 1).select(
        F.col("v").alias("qv"), F.col("cell").alias("qcell")
    )
    return (
        assigned.join(F.broadcast(q))
        .filter((F.col("cell") == F.col("qcell")) & (F.col("vec_id") != 1))
        .select("vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(5)
    )


@query(
    "sessionize",
    oracle="""
        WITH gaps AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN ts - coalesce(lag(ts) OVER w, ts) > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM (SELECT DISTINCT user_id, event_id, ts FROM events
                  WHERE ts IS NOT NULL) base
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_id, ts,
               CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS BIGINT)
                   AS session_id
        FROM gaps
    """,
    doc="Sessionization: lag(ts) gap > 30 min starts a new session; "
    "session_id = running count of session starts per user (guide "
    "pattern). One shuffle on user_id; both windows share the sort.",
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # duplicate deliveries collapse BEFORE sessionizing: tied copies get
    # different new_session flags from the lag pass, and the running-sum
    # window's tie order is engine/partition-dependent after that
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .dropDuplicates(["event_id"])
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # cast to double (fractional seconds), NOT long: a long cast
    # truncates microseconds, so a 1800.5s gap reads as 1800 and fails
    # the > check while the oracle's exact INTERVAL comparison passes —
    # invisible on sparse fixtures, caught by the zipf skew axis where
    # the hot user's dense event stream hits the boundary
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    new_session = F.when(
        F.coalesce(gap, F.lit(0)) > 30 * 60, F.lit(1)
    ).otherwise(F.lit(0))
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        (F.sum(new_session).over(running) + 1).cast("long").alias("session_id"),
    )


@query(
    "join-range-bucketized",
    oracle="""
        SELECT b.band_name, count(*) AS n, round(sum(l.l_extendedprice), 2) AS total
        FROM lineitem l
        JOIN (VALUES ('low', 0, 30000), ('mid', 30000, 70000), ('high', 70000, 120000))
             AS b(band_name, lo, hi)
          ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
        GROUP BY b.band_name
    """,
    doc="Range join (guide pattern — Spark has no native one): price "
    "bands resolved by bucketizing the probe value to the band "
    "granularity -> broadcast equi-join on bucket + residual filter. "
    "At 100 TB this turns an O(n*bands) theta join into a broadcast "
    "hash join; the residual filter is codegen.",
)
def join_range_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = [("low", 0, 30000), ("mid", 30000, 70000), ("high", 70000, 120000)]
    step = 10000  # gcd of band bounds: each bucket maps to exactly one band
    bucket_rows = [
        (name, b)
        for name, lo, hi in bands
        for b in range(lo // step, hi // step)
    ]
    dim = spark.createDataFrame(bucket_rows, "band_name string, bucket long")
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "bucket", F.floor(F.col("l_extendedprice") / step)
    )
    return (
        li.join(F.broadcast(dim), "bucket")
        .groupBy("band_name")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
        )
    )


@query(
    "window-rank-battery",
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               round(percent_rank() OVER w, 6) AS prank
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Ranking battery: rank / dense_rank / ntile / percent_rank over a "
    "deterministic order — one shuffle + sort serves all four.",
)
def window_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
    )


@query(
    "agg-grouping-sets",
    oracle="""
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS (beyond rollup/cube): three groupings in "
    "one pass via the expand operator.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("tss_li_gs")
    try:
        return spark.sql(
            """
            SELECT l_returnflag, l_linestatus, count(*) AS n
            FROM tss_li_gs
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            """
        )
    finally:
        spark.catalog.dropTempView("tss_li_gs")


@query(
    "corr-subquery-agg",
    oracle="""
        SELECT c.c_custkey, round(c.c_acctbal, 2) AS bal
        FROM customer c
        WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                             WHERE c2.c_nationkey = c.c_nationkey)
    """,
    doc="Correlated scalar subquery (customers above their nation's mean "
    "balance): Catalyst decorrelates to an aggregate + equi-join — no "
    "per-row re-execution, unlike the reference's hand-issued SQL.",
)
def corr_subquery_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    nat_avg = c.groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("_avg"))
    return (
        c.join(F.broadcast(nat_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .select("c_custkey", F.round("c_acctbal", 2).alias("bal"))
    )


@query(
    "set-intersect",
    oracle="""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="INTERSECT (distinct): customers having both F and O orders.",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op)


@query(
    "set-except",
    oracle="""
        SELECT c_custkey FROM customer
        EXCEPT
        SELECT o_custkey AS c_custkey FROM orders
    """,
    doc="EXCEPT (distinct): customer keys with no orders — the set-op "
    "twin of join-anti.",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return c.subtract(o)  # subtract == EXCEPT DISTINCT


@query(
    "agg-cube",
    oracle="""
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over two dimensions — grouping-set expansion in one pass.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


@query(
    "agg-percentile",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Exact percentiles (linear interpolation) per group. At 100 TB "
    "switch to approx_percentile (t-digest sketch, mergeable map-side) — "
    "exact percentile materializes per-group value buffers.",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # one percentile pass over the sorted buffer, not three
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(pcts.alias("_p"))
        .select(
            "l_returnflag",
            F.round(F.col("_p")[0], 4).alias("p25"),
            F.round(F.col("_p")[1], 4).alias("p50"),
            F.round(F.col("_p")[2], 4).alias("p75"),
        )
    )


@query(
    "scd2-intervals",
    oracle="""
        SELECT user_id, event_type AS state, ts AS effective_from,
               coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                        TIMESTAMP '2200-01-01') AS effective_to,
               (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
                   AS is_current
        FROM events WHERE ts IS NOT NULL
    """,
    doc="SCD2 history build (guide CDC/SCD2 pattern, emulated without "
    "MERGE): each state change becomes an [effective_from, effective_to) "
    "interval via lead(); the open interval is the current row. One "
    "window shuffle; at scale this materializes a queryable "
    "point-in-time dimension. Open-interval sentinel is 2200-01-01 — "
    "inside pandas' ns-timestamp range (max 2262-04-11), so downstream "
    "pandas/Arrow consumers never overflow; is_current carries the "
    "semantics regardless of sentinel choice.",
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("effective_from"),
        F.coalesce(nxt, F.lit("2200-01-01").cast("timestamp")).alias("effective_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "agg-approx-sketch",
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               (abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
                <= 0.05 * count(DISTINCT l_partkey)) AS hll_within_5pct,
               (abs(approx_quantile(l_extendedprice, 0.5)
                    - quantile_cont(l_extendedprice, 0.5))
                <= 0.05 * quantile_cont(l_extendedprice, 0.5)) AS p50_within_5pct
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Sketch aggregates — the 100 TB substitutes for exact "
    "count-distinct and percentiles (HLL and t-digest/KLL are mergeable "
    "map-side; exact forms buffer per-group values). Sketch values "
    "differ across engines by construction, so the oracle contract is "
    "the TOLERANCE: each engine's sketch lands within 5% of its own "
    "exact answer (deterministic booleans — sketch inserts are "
    "order-insensitive). Distinct and percentile aggs run as SEPARATE "
    "single-pass aggregations joined on the group key: mixing them in "
    "one agg() makes Catalyst plan an Expand + double shuffle that "
    "carries percentile's full-value partial buffers through both "
    "exchanges (measured 12s vs ~2s at sf0.1).",
)
def agg_approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    exact = F.countDistinct("l_partkey")
    approx = F.approx_count_distinct("l_partkey")
    p50_exact = F.percentile("l_extendedprice", F.lit(0.5))
    p50_approx = F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000))
    # two SEPARATE aggregates, deliberately (see doc): folding the
    # percentile columns into the countDistinct agg makes the
    # single-distinct rewrite key the partial aggregate on
    # (l_returnflag, l_partkey) — ~200k groups EACH carrying HLL,
    # KLL-sketch AND exact-percentile value buffers through two
    # ObjectHashAggregate merges (re-measured r11: 9.5s vs 2.2s
    # isolated). Two thin scans of three parquet columns are far
    # cheaper than one scan that buffers values per distinct key.
    cd = li.groupBy("l_returnflag").agg(
        exact.cast("long").alias("exact_parts"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("hll_within_5pct"),
    )
    pct = li.groupBy(F.col("l_returnflag").alias("rf")).agg(
        (F.abs(p50_approx - p50_exact) <= 0.05 * p50_exact).alias("p50_within_5pct")
    )
    # NULL-safe join key: a plain equi-join silently drops the NULL
    # group that GROUP BY keeps (caught by the null-hostility sweep)
    return cd.join(pct, F.col("l_returnflag").eqNullSafe(F.col("rf"))).drop("rf")


@query(
    "unpivot",
    oracle="""
        SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount' AS measure, l_discount AS value
        FROM lineitem
    """,
    doc="Unpivot wide measures to long form via stack() — no shuffle, "
    "row expansion inside codegen.",
)
def unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(2, 'quantity', l_quantity, 'discount', l_discount) AS (measure, value)"
        ),
    )


@query(
    "merge-upsert",
    oracle="""
        WITH target AS (
            SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
        ), updates AS (
            SELECT o_orderkey, round(o_totalprice + 1000.0, 2) AS o_totalprice
            FROM orders WHERE o_orderkey % 10 = 0
        )
        SELECT t.o_orderkey, t.o_totalprice, 'kept' AS src
        FROM target t
        WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = t.o_orderkey)
        UNION ALL
        SELECT o_orderkey, o_totalprice, 'upserted' AS src FROM updates
    """,
    doc="Batch MERGE/upsert emulation without a table format (guide CDC "
    "pattern; reference's append-vs-replace dilemma push_to_db.py:29-30): "
    "matched target rows are replaced and unmatched update rows inserted "
    "via left_anti + unionByName — the exact plan Delta/Iceberg MERGE "
    "lowers to when every match updates. The anti-join ships only keys; "
    "at 100 TB partition both sides on the merge key so the rewrite "
    "touches only affected partitions (partition overwrite mode).",
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", F.round(F.col("o_totalprice") + 1000.0, 2).alias("o_totalprice")
    )
    kept = target.join(updates, "o_orderkey", "left_anti").withColumn(
        "src", F.lit("kept")
    )
    return kept.unionByName(updates.withColumn("src", F.lit("upserted")))


@query(
    "agg-sketch-merge",
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               TRUE AS merge_near_lossless,
               (abs(approx_count_distinct(l_partkey)
                    - count(DISTINCT l_partkey))
                <= 0.05 * count(DISTINCT l_partkey)) AS merged_within_5pct
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Sketch MERGEABILITY — the property that makes approximate "
    "aggregates the 100 TB answer: HLL sketches built per "
    "(returnflag, linestatus) sub-group are union-merged to the "
    "returnflag level (hll_union_agg) and the merged estimate is "
    "asserted within 3% of the directly-built sketch's estimate (not "
    "bit-equal: a DataSketches union promotes HLL_4 sketches to an "
    "HLL_8 target, which can move the estimator a hair) — register-max "
    "is associative/commutative/idempotent, so "
    "pre-aggregating sketches per partition/day and merging at query "
    "time loses nothing. Tolerance-contract oracle (same idiom as "
    "agg-approx-sketch): each engine checks its own sketch against its "
    "own exact answer; the lossless-merge boolean is the contract "
    "itself.",
)
def agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    partial = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = partial.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("merged_est")
    )
    direct = li.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey"))
        .cast("long")
        .alias("direct_est"),
        F.countDistinct("l_partkey").cast("long").alias("exact_parts"),
    )
    merged = merged.withColumnRenamed("l_returnflag", "rf")
    return direct.join(
        merged, F.col("l_returnflag").eqNullSafe(F.col("rf"))
    ).select(
        "l_returnflag",
        "exact_parts",
        # 3%, not 1%: the HLL_4 -> HLL_8 union-promotion wobble is an
        # absolute register effect, so its RELATIVE size grows as the
        # group shrinks (observed 1.65% on a 548-part hostile group;
        # two independent lgK=12 estimates already carry ~1.6% se each)
        (
            F.abs(F.col("merged_est") - F.col("direct_est"))
            <= 0.03 * F.col("direct_est")
        ).alias("merge_near_lossless"),
        (
            F.abs(F.col("merged_est") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        ).alias("merged_within_5pct"),
    )


@query(
    "agg-corr-stats",
    oracle="""
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
               round(covar_pop(l_quantity, l_extendedprice), 2) AS qty_price_covar,
               round(stddev_samp(l_discount), 6) AS disc_stddev,
               round(var_pop(l_tax), 6) AS tax_var
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Second-moment statistical aggregates (corr / covar_pop / "
    "stddev_samp / var_pop) per group — single-pass streaming-moment "
    "implementations on both engines (no value buffering, partial "
    "merge map-side, unlike exact percentiles). Rounded where "
    "summation order can wiggle the last bits.",
)
def agg_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_discount"), 6).alias("disc_stddev"),
        F.round(F.var_pop("l_tax"), 6).alias("tax_var"),
    )


@query(
    "window-first-last",
    oracle="""
        SELECT event_id,
               first_value(event_type) OVER w AS first_type,
               last_value(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING) AS last_type,
               nth_value(event_type, 2) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING) AS second_type
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="first_value / last_value / nth_value battery over per-user "
    "event history. The frame trap: last_value and nth_value under the "
    "DEFAULT frame (unbounded preceding .. current row) see only the "
    "prefix — both need an explicit unbounded-following frame to mean "
    "'the session's last/2nd event'. Order is made total with the "
    "(ts, event_id) tie-break, without which first/last are "
    "partition-order-dependent across engines.",
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(wfull).alias("last_type"),
        F.nth_value("event_type", 2).over(wfull).alias("second_type"),
    )


@query(
    "skyline-pareto",
    oracle="""
        WITH pts AS (
            SELECT o_orderkey, o_totalprice,
                   CAST(o_orderkey % 7 AS BIGINT) + length(o_orderpriority) AS speed
            FROM orders WHERE o_totalprice IS NOT NULL
        ),
        ranked AS (
            SELECT *,
                   max(speed) OVER (ORDER BY o_totalprice ASC, o_orderkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS best_speed_cheaper
            FROM pts
        )
        SELECT o_orderkey, o_totalprice, speed
        FROM ranked
        WHERE best_speed_cheaper IS NULL OR speed > best_speed_cheaper
    """,
    doc="2-D skyline (Pareto frontier: orders no other order beats on "
    "BOTH price-cheapness and speed), computed scale-safe in two "
    "stages: (1) grid prune — bucket prices, take each bucket's max "
    "speed (one grouped agg), broadcast the tiny running-max-per-"
    "cheaper-bucket table back and DROP every point already dominated "
    "by a strictly-cheaper bucket's champion (provably dominated: "
    "that champion has lower price and >= speed); (2) the exact "
    "running-max window runs only over the survivors — frontier-sized "
    "input, so the single-partition sort the textbook formulation "
    "needs over ALL rows touches ~|frontier| rows instead. Same "
    "result set as the naive O(n^2) dominance join the oracle's "
    "window form encodes.",
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # a NULL price can't sit on a price/speed frontier — and it sorts
    # FIRST in Spark's bucket window, poisoning the running champion
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    pts = o.select(
        "o_orderkey",
        "o_totalprice",
        (
            (F.col("o_orderkey") % 7).cast("long") + F.length("o_orderpriority")
        ).alias("speed"),
    ).withColumn("pb", F.floor(F.col("o_totalprice") / 10000))
    # stage 1: per-bucket champions -> running max over STRICTLY cheaper
    # buckets (bucket table is ~|price range|/10k rows — driver-small)
    wb = Window.orderBy("pb").rowsBetween(Window.unboundedPreceding, -1)
    bucket_max = (
        pts.groupBy("pb")
        .agg(F.max("speed").alias("bmax"))
        .withColumn("cheaper_bmax", F.max("bmax").over(wb))
        .select("pb", "cheaper_bmax")
    )
    survivors = pts.join(F.broadcast(bucket_max), "pb").filter(
        F.col("cheaper_bmax").isNull() | (F.col("speed") > F.col("cheaper_bmax"))
    )
    # stage 2: exact frontier over the pruned set
    w = (
        Window.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = survivors.withColumn("best_speed_cheaper", F.max("speed").over(w))
    return ranked.filter(
        F.col("best_speed_cheaper").isNull()
        | (F.col("speed") > F.col("best_speed_cheaper"))
    ).select("o_orderkey", "o_totalprice", "speed")


@query(
    "plan-reuse-exchange",
    oracle="""
        WITH agg AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                        AS DOUBLE) AS total
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        )
        SELECT a.l_returnflag, a.l_linestatus, a.n, a.total,
               round(a.total / b.flag_total, 6) AS share_of_flag,
               b.flag_n
        FROM agg a
        JOIN (SELECT l_returnflag, sum(total) AS flag_total,
                     CAST(sum(n) AS BIGINT) AS flag_n
              FROM agg GROUP BY l_returnflag) b
          ON a.l_returnflag = b.l_returnflag
    """,
    doc="Exchange reuse: the same grouped aggregate feeds both sides of "
    "a self-join (per-(flag,status) totals vs their per-flag shares) — "
    "Catalyst plans ONE scan + ONE shuffle and wires the second "
    "consumer to a ReusedExchange node (asserted in "
    "test_plan_shapes), where a naive engine would scan and shuffle "
    "lineitem twice. The free-of-charge sibling of explicit caching: "
    "structurally identical subtrees dedupe at the physical layer, "
    "which is why building reports as single multi-consumer plans "
    "beats materializing intermediate tables at 100 TB.",
)
def plan_reuse_exchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total"),
    )
    # flag_n keeps BOTH aggregate columns live in the second consumer —
    # otherwise column pruning specializes its partial aggregate (sum
    # only vs count+sum), the two exchanges stop being structurally
    # identical, and reuse silently vanishes (observed: two full scans)
    per_flag = agg.groupBy("l_returnflag").agg(
        F.sum("total").alias("flag_total"),
        F.sum("n").cast("long").alias("flag_n"),
    )
    return agg.join(per_flag, "l_returnflag").select(
        "l_returnflag",
        "l_linestatus",
        "n",
        "total",
        F.round(F.col("total") / F.col("flag_total"), 6).alias("share_of_flag"),
        "flag_n",
    )


@query(
    "agg-robust-mad",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
            FROM events e JOIN med m ON e.event_type = m.event_type
        )
        SELECT event_type,
               round(max(med), 6) AS median_value,
               round(quantile_cont(adev, 0.5), 6) AS mad,
               CAST(count(*) AS BIGINT) AS n
        FROM dev
        GROUP BY event_type
    """,
    doc="Robust dispersion via median absolute deviation: per-type "
    "median, then the median of absolute deviations from it — the "
    "outlier-resistant alternative to stddev (anomaly-zscore's mean/sd "
    "break down when the anomalies themselves inflate them; MAD "
    "doesn't). Two grouped passes joined on the group key, exact "
    "interpolated percentiles on both engines; at 100 TB each median "
    "swaps for approx_percentile's mergeable t-digest — same "
    "two-pass shape, sketch state.",
)
def agg_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    return dev.groupBy("event_type").agg(
        F.round(F.max("med"), 6).alias("median_value"),
        F.round(F.percentile("adev", F.lit(0.5)), 6).alias("mad"),
        F.count("*").alias("n"),
    )


@query(
    "window-rows-vs-range",
    oracle="""
        WITH counted AS (
            SELECT o_orderkey, o_orderpriority, o_orderdate,
                   count(*) OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_orderdate
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS rows_cnt,
                   count(*) OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_orderdate
                                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS range_cnt
            FROM orders
            WHERE o_orderkey % 50 = 0 AND o_orderdate IS NOT NULL
        )
        SELECT o_orderpriority, o_orderdate,
               CAST(count(*) AS BIGINT) AS n_peers,
               CAST(min(rows_cnt) AS BIGINT) AS rows_cnt_first,
               CAST(max(rows_cnt) AS BIGINT) AS rows_cnt_last,
               CAST(max(range_cnt) AS BIGINT) AS range_cnt
        FROM counted
        GROUP BY o_orderpriority, o_orderdate
    """,
    doc="ROWS vs RANGE frame semantics on tied sort keys: with ORDER BY "
    "o_orderdate (heavily tied), each peer group shares ONE "
    "range_cnt (RANGE includes all peers — deterministic everywhere) "
    "while ROWS hands out distinct position-dependent counts "
    "rows_cnt_first..rows_cnt_last — WHICH peer gets which is "
    "engine/partitioning-dependent, so this op aggregates per peer "
    "group (min/max/range are order-insensitive; emitting the raw "
    "per-row ROWS counts would itself be the bug). The correctness "
    "rule this pins: tied ORDER BY + ROWS frame needs a unique "
    "tiebreaker, or RANGE; every other window op in this registry "
    "does one or the other. range_cnt == rows_cnt_last checks the "
    "algebra.",
)
def window_rows_vs_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") % 50 == 0) & F.col("o_orderdate").isNotNull()
    )
    base = Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
    w_rows = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_range = base.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    counted = o.select(
        "o_orderpriority",
        "o_orderdate",
        F.count("*").over(w_rows).alias("rows_cnt"),
        F.count("*").over(w_range).alias("range_cnt"),
    )
    return counted.groupBy("o_orderpriority", "o_orderdate").agg(
        F.count("*").alias("n_peers"),
        F.min("rows_cnt").cast("long").alias("rows_cnt_first"),
        F.max("rows_cnt").cast("long").alias("rows_cnt_last"),
        F.max("range_cnt").cast("long").alias("range_cnt"),
    )


@query(
    "agg-weighted-percentile",
    oracle="""
        WITH ordered AS (
            SELECT l_returnflag, l_extendedprice, l_quantity,
                   sum(l_quantity) OVER (PARTITION BY l_returnflag
                                         ORDER BY l_extendedprice, l_orderkey, l_linenumber
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_w,
                   sum(l_quantity) OVER (PARTITION BY l_returnflag) AS total_w
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        )
        SELECT l_returnflag,
               round(min(l_extendedprice), 4) AS weighted_median
        FROM ordered
        WHERE cum_w >= total_w / 2
        GROUP BY l_returnflag
    """,
    doc="Quantity-weighted median price per return flag: order by value "
    "with a unique tiebreaker, running weight sum, first row whose "
    "cumulative weight crosses half the total — the weighted-quantile "
    "construction plain percentile can't express (each row counts "
    "l_quantity times). One window shuffle on the group key; at "
    "100 TB the same crossing rule runs on a weighted histogram "
    "(agg-histogram's bins carrying weight sums) to avoid the "
    "per-group sort entirely, trading exactness for bin width.",
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    wsort = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wall = Window.partitionBy("l_returnflag")
    ordered = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity")
        .over(wsort.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_w"),
        F.sum("l_quantity").over(wall).alias("total_w"),
    )
    return (
        ordered.filter(F.col("cum_w") >= F.col("total_w") / 2)
        .groupBy("l_returnflag")
        .agg(F.round(F.min("l_extendedprice"), 4).alias("weighted_median"))
    )


@query(
    "agg-variance-merge",
    oracle="""
        WITH partials AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(count(*) AS DOUBLE) AS n,
                   avg(l_extendedprice) AS mean,
                   CAST(count(*) AS DOUBLE) * var_pop(l_extendedprice) AS m2
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        ),
        merged AS (
            SELECT l_returnflag,
                   sum(n) AS n,
                   sum(n * mean) / sum(n) AS mean,
                   sum(m2) + sum(n * mean * mean)
                       - (sum(n * mean) * sum(n * mean)) / sum(n) AS m2
            FROM partials
            GROUP BY l_returnflag
        ),
        direct AS (
            SELECT l_returnflag, var_pop(l_extendedprice) AS v
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT m.l_returnflag,
               CAST(m.n AS BIGINT) AS n,
               round(m.m2 / m.n, 2) AS merged_var,
               round(d.v, 2) AS direct_var,
               (abs(m.m2 / m.n - d.v) <= 1e-6 * d.v) AS merge_is_lossless
        FROM merged m JOIN direct d ON m.l_returnflag = d.l_returnflag
    """,
    doc="Parallel variance via moment merging (Chan/Welford), spelled "
    "relationally: per-(flag,status) partial states (n, mean, M2) "
    "combine to per-flag variance through the exact merge formula — "
    "checked against the direct single-pass variance with a "
    "merge_is_lossless boolean. This IS what Spark's partial "
    "aggregation does inside every stddev/var at 100 TB (combiner "
    "states merge across partitions); spelling it out is the recipe "
    "for maintaining variance in INCREMENTAL rollups "
    "(rollup-incremental-merge's (sum,count) trick extended to "
    "second moments) where no built-in partial is storable.",
)
def agg_variance_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    partials = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("double").alias("n"),
        F.avg("l_extendedprice").alias("mean"),
        (F.count("*").cast("double") * F.var_pop("l_extendedprice")).alias("m2"),
    )
    merged = partials.groupBy("l_returnflag").agg(
        F.sum("n").alias("n"),
        (F.sum(F.col("n") * F.col("mean")) / F.sum("n")).alias("mean"),
        (
            F.sum("m2")
            + F.sum(F.col("n") * F.col("mean") * F.col("mean"))
            - (
                F.sum(F.col("n") * F.col("mean"))
                * F.sum(F.col("n") * F.col("mean"))
            )
            / F.sum("n")
        ).alias("m2"),
    )
    direct = li.groupBy("l_returnflag").agg(
        F.var_pop("l_extendedprice").alias("v")
    )
    return merged.join(direct, "l_returnflag").select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("m2") / F.col("n"), 2).alias("merged_var"),
        F.round(F.col("v"), 2).alias("direct_var"),
        (
            F.abs(F.col("m2") / F.col("n") - F.col("v")) <= 1e-6 * F.col("v")
        ).alias("merge_is_lossless"),
    )


@query(
    "sql-pipe-syntax",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(l_quantity), 4) AS avg_qty
        FROM lineitem
        WHERE l_quantity > 10
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="SQL pipe syntax (Spark 4 |> operators): the same logical plan "
    "as nested SELECT, written as a linear dataflow — FROM |> WHERE "
    "|> AGGREGATE ... GROUP BY — each stage consuming the previous "
    "one's output exactly like the DataFrame API reads. Compiles to "
    "the identical Catalyst plan (filter pushdown, partial agg — no "
    "new execution surface), so it's free to adopt; pinned here so "
    "the engine's SQL front door covers the dialect. Oracle is the "
    "classic-syntax equivalent.",
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("tss_li_pipe")
    try:
        return spark.sql(
            """
            FROM tss_li_pipe
            |> WHERE l_quantity > 10
            |> AGGREGATE count(*) AS n, round(avg(l_quantity), 4) AS avg_qty
               GROUP BY l_returnflag, l_linestatus
            """
        ).select("l_returnflag", "l_linestatus", "n", "avg_qty")
    finally:
        spark.catalog.dropTempView("tss_li_pipe")


@query(
    "agg-listagg-ordered",
    oracle="""
        SELECT n_regionkey,
               string_agg(n_name, ',' ORDER BY n_name) AS nations
        FROM nation
        GROUP BY n_regionkey
    """,
    doc="Ordered string aggregation (Spark 4 listagg WITHIN GROUP / "
    "DuckDB string_agg ORDER BY): deterministic delimited "
    "concatenation per group — the WITHIN GROUP ordering is what "
    "makes the result reproducible across partitionings (bare "
    "collect+concat inherits partition order, the same hazard "
    "agg-collect-sorted documents). Emits a flat string, so it is "
    "also the canonical driver-safe serialization for small grouped "
    "lists.",
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("tss_nation_la")
    try:
        return spark.sql(
            """
            SELECT n_regionkey,
                   listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
            FROM tss_nation_la
            GROUP BY n_regionkey
            """
        )
    finally:
        spark.catalog.dropTempView("tss_nation_la")


@query(
    "window-running-distinct",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                                ORDER BY ts, event_id) = 1
                        THEN 1 ELSE 0 END AS first_seen
            FROM events WHERE ts IS NOT NULL
        )
        SELECT user_id, ts, event_id,
               CAST(sum(first_seen) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS distinct_types_so_far
        FROM flagged
    """,
    doc="RUNNING count-distinct per key (distinct event types seen so "
    "far per user): count(DISTINCT) OVER a running frame is "
    "unsupported/quadratic everywhere — the trick is two windows: "
    "flag each (user, type)'s FIRST occurrence (row_number = 1), then "
    "a running SUM of flags. Both windows shuffle on user_id once "
    "(same partitioning, exchange reused), state bounded by the frame "
    "row, not the distinct domain. The engagement-breadth metric "
    "('how many features has this user touched by time t') computed "
    "scale-safe.",
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("first_seen"),
    )
    return flagged.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("first_seen").over(w_run).cast("long").alias("distinct_types_so_far"),
    )


@query(
    "abc-revenue-deciles",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, revenue,
                   ntile(10) OVER (ORDER BY revenue DESC, o_custkey) AS decile
            FROM per_cust
        )
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(round(sum(revenue), 2) AS DOUBLE) AS decile_revenue,
               round(CAST(sum(revenue) AS DOUBLE)
                     / CAST((SELECT sum(revenue) FROM per_cust) AS DOUBLE), 6)
                   AS revenue_share
        FROM ranked
        GROUP BY decile
    """,
    doc="Revenue-concentration deciles (the 80/20 audit): per-customer "
    "revenue, ntile(10) by descending revenue, per-decile share of "
    "total. The decile cut uses the range-sort rank from "
    "operators/ranking.py (the customer frame grows with the data, "
    "so no global ntile window); exact_ntile reproduces ANSI ntile "
    "bucket sizes; revenue sums go through DECIMAL so partition "
    "order can't flip rounded cents. The concentration curve that "
    "drives key-account analysis and, mechanically, skew diagnosis: "
    "decile 1's share IS the join-skew hotness of the customer key.",
)
def abc_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.ranking import (
        exact_ntile,
        with_global_order,
    )

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    g = with_global_order(
        per_cust, "revenue", ascending=False, tiebreakers=("o_custkey",),
        rn="__rn", total_count="__n",
    )
    ranked = g.withColumn(
        "decile", exact_ntile(F.col("__rn"), F.col("__n"), 10)
    )
    # total revenue from a separate per_cust.agg, deliberately: deriving
    # it from the persisted 10-row decile frame (tried r11) chains THREE
    # nested cache materializations (helper d -> dec -> broadcast total)
    # and measured slower cold AND warm than one extra thin scan of the
    # orders rollup (fresh-process: first-run 10-17s vs 8-9.5s, warm
    # 1.8-3.1s vs 1.3-2.1s).
    total = per_cust.agg(F.sum("revenue").alias("total_rev"))
    return (
        ranked.groupBy(F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("revenue"), 2).cast("double").alias("decile_revenue"),
            F.sum("revenue").alias("_rev"),
        )
        .join(F.broadcast(total))
        .withColumn(
            "revenue_share",
            F.round(F.col("_rev").cast("double") / F.col("total_rev").cast("double"), 6),
        )
        .select("decile", "n_customers", "decile_revenue", "revenue_share")
    )


@query(
    "simsearch-recall-eval",
    oracle=f"""
        WITH tagged AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {_sql_bucket('CAST(embedding AS DOUBLE[])')} AS bucket
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qbucket
              FROM tagged WHERE vec_id <= 5),
        scored AS (
            SELECT q.q_id, t.vec_id, t.bucket, q.qbucket,
                   round(list_dot_product(t.v, q.qv)
                         / (sqrt(list_dot_product(t.v, t.v))
                            * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
            FROM tagged t CROSS JOIN q
            WHERE t.vec_id <> q.q_id
        ),
        exact AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY sim DESC, vec_id) AS rn
                FROM scored
            ) WHERE rn <= 10
        ),
        cand AS (
            SELECT q_id, vec_id FROM scored WHERE bucket = qbucket
        )
        SELECT e.q_id,
               CAST((SELECT count(*) FROM cand c
                     WHERE c.q_id = e.q_id) AS BIGINT) AS n_candidates,
               CAST(count(c2.vec_id) AS BIGINT) AS n_hits,
               round(count(c2.vec_id) / 10.0, 2) AS recall_at_10
        FROM exact e
        LEFT JOIN cand c2 ON c2.q_id = e.q_id AND c2.vec_id = e.vec_id
        GROUP BY e.q_id
    """,
    doc="ANN quality evaluation: recall@10 of single-probe sign-LSH "
    "(simsearch-lsh-probe's candidate rule) against the brute-force "
    "ground truth (simsearch-topk's scoring), for 5 query points — "
    "the measurement loop every ANN deployment needs before trusting "
    "its index, and the number that justifies multiprobe "
    "(simsearch-lsh-multiprobe) when single-probe recall sags. "
    "Similarities are rounded to 6dp BEFORE ranking so the ground "
    "truth's tie-break order is engine-independent. Shape: the "
    "ground-truth pass is a broadcast(5) x corpus scoring with a "
    "per-query top-k window; the candidate pass is the bucket "
    "equality predicate; recall is a key-join of the two small "
    "result sets. At 100 TB the eval runs on a sampled query set "
    "exactly like this, while production probes stay partition-"
    "pruned.",
)
def simsearch_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    tagged = e.select(
        "vec_id",
        as_double(F.col("embedding")).alias("v"),
        lsh_bucket(as_double(F.col("embedding"))).alias("bucket"),
    )
    q = tagged.filter(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    # NOTE(r11): persisting a narrowed scored relation was tried (12
    # scans -> 2) and REVERTED — ABBA (+15%) and two consecutive sweeps
    # (+13%, +52%) agreed: unpersisted, the optimizer prunes the cosine
    # out of the candidate/count branches entirely (only the exact-arm
    # pass pays the interpreted HOF dots), so the three "redundant"
    # plans are each far cheaper than one cache build that must
    # materialize every cosine.
    scored = (
        tagged.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "bucket",
            "qbucket",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("sim"),
        )
    )
    exact = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.col("sim").desc(), F.col("vec_id")
                )
            ),
        )
        .filter(F.col("rn") <= 10)
        .select("q_id", "vec_id")
    )
    cand = scored.filter(F.col("bucket") == F.col("qbucket")).select(
        "q_id", "vec_id"
    )
    n_cand = cand.groupBy("q_id").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    hits = exact.join(cand.withColumn("hit", F.lit(1)), ["q_id", "vec_id"], "left")
    return (
        hits.groupBy("q_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits")
        )
        .join(F.broadcast(n_cand), "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            "n_hits",
            F.round(F.col("n_hits") / 10.0, 2).alias("recall_at_10"),
        )
    )


@query(
    "window-session-concurrency",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts,
                   CASE WHEN ts - coalesce(lag(ts) OVER w, ts) > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
                   ts
            FROM gaps
        ),
        intervals AS (
            SELECT user_id * 1000 + sid AS skey,
                   min(ts) AS s_start, max(ts) AS s_end
            FROM sess GROUP BY user_id, sid
        ),
        deltas AS (
            SELECT s_start AS ts, 1 AS delta, skey FROM intervals
            UNION ALL
            SELECT s_end, -1, skey FROM intervals
        ),
        running AS (
            SELECT ts, delta,
                   sum(delta) OVER (ORDER BY ts, delta, skey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS concurrency
            FROM deltas
        )
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(max(concurrency) AS BIGINT) AS peak_concurrency
        FROM running
        GROUP BY 1
    """,
    doc="Peak concurrent sessions per day — the max-overlapping-"
    "intervals problem via the sweep-line trick: sessions (the "
    "sessionize 30-min gap rule) become +1/-1 deltas at their "
    "endpoints, a single ordered running sum is the live-session "
    "count at every boundary, and a day rollup takes the max. The "
    "capacity-planning number (licenses, connection pools, "
    "autoscaler floors) that windowed counts can't give because "
    "sessions span window boundaries. The total order carries "
    "(ts, delta, session-key) so simultaneous endpoints resolve "
    "identically everywhere: an end meeting a start at the same "
    "instant counts conservatively (-1 sorts first). The boundary "
    "relation is 2x|sessions| rows — it grows with the data, so the "
    "running sum is a two-phase bucketed prefix sum, never a "
    "single-partition sweep. Fused (r8, was 19 exchanges / 1.7 s): the "
    "lag and running-sum windows share one (user_id)/(ts, event_id) "
    "sort, the session groupBy rides the same hash partitioning (no "
    "exchange), endpoints explode from one pass instead of a union "
    "re-derivation, and because the output is keyed by DAY the prefix "
    "buckets ARE the days: a per-day local cumsum plus a running "
    "opening offset over the per-day delta totals (a calendar-bounded "
    "global window, |days| rows) replaces the generic rank "
    "helper. One agg computes each day's max local prefix and "
    "its total delta, so the whole op is two shuffles and one pass.",
)
def window_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # one shuffle + one sort serve both windows: lag needs (ts, event_id)
    # order; the running sid sum uses the same order (a deterministic
    # refinement of the oracle's ORDER BY ts ROWS frame)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    # double, not long: long truncates microseconds and diverges from the
    # oracle's exact INTERVAL comparison on sub-second boundary gaps
    # (found by the r9 zipf skew axis on sessionize)
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    new_session = F.when(F.coalesce(gap, F.lit(0)) > 30 * 60, 1).otherwise(0)
    sess = ev.select(
        "user_id", "ts", "event_id", new_session.alias("new_session")
    ).select("user_id", "ts", F.sum("new_session").over(wrun).alias("sid"))
    # grouping keys are a superset of the window's hash partitioning
    # (user_id), so this aggregate needs no exchange
    intervals = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    deltas = intervals.select(
        (F.col("user_id") * 1000 + F.col("sid")).alias("skey"),
        F.explode(
            F.array(
                F.struct(F.col("s_start").alias("ts"), F.lit(1).alias("delta")),
                F.struct(F.col("s_end").alias("ts"), F.lit(-1).alias("delta")),
            )
        ).alias("e"),
    ).select(F.col("e.ts").alias("ts"), F.col("e.delta").alias("delta"), "skey")
    # day-bucketed sweep: within a day the local running sum follows the
    # total order (ts, delta, skey) — day is a prefix of ts order, so
    # day-local cumsum + the day's opening offset IS the global cumsum
    day = F.to_date(F.date_trunc("day", F.col("ts")))
    wday = (
        Window.partitionBy("day")
        .orderBy("ts", "delta", "skey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = deltas.withColumn("day", day).select(
        "day", "delta", F.sum("delta").over(wday).alias("local_cum")
    )
    # one agg per day: max local prefix (the day's internal peak relative
    # to its opening) and the day's total delta (to roll the opening
    # forward). Rides the day partitioning — no exchange.
    daysum = local.groupBy("day").agg(
        F.max("local_cum").alias("mx"), F.sum("delta").alias("day_delta")
    )
    # opening offset = concurrency carried in from all earlier days: a
    # global window over the per-day summary — CALENDAR-bounded (|days|
    # rows), the audited bounded-global-window class, not data-scaled
    wdays = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    return daysum.select(
        "day",
        (F.coalesce(F.sum("day_delta").over(wdays), F.lit(0)) + F.col("mx"))
        .cast("long")
        .alias("peak_concurrency"),
    )


@query(
    "embed-cluster-purity",
    oracle=f"""
        WITH tagged AS (
            SELECT label,
                   {_sql_bucket('CAST(embedding AS DOUBLE[])')} AS bucket
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        cells AS (
            SELECT bucket, label, CAST(count(*) AS BIGINT) AS n
            FROM tagged GROUP BY bucket, label
        ),
        per_bucket AS (
            SELECT bucket,
                   CAST(sum(n) AS BIGINT) AS bucket_n,
                   CAST(max(n) AS BIGINT) AS majority_n
            FROM cells GROUP BY bucket
        )
        SELECT CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(bucket_n) AS BIGINT) AS n_vectors,
               round(CAST(sum(majority_n) AS DOUBLE) / sum(bucket_n), 6)
                   AS weighted_purity,
               round(avg(CAST(majority_n AS DOUBLE) / bucket_n), 6)
                   AS macro_purity
        FROM per_bucket
    """,
    doc="Cluster purity of the sign-LSH partitioning against the "
    "embeddings' labels: per bucket, the majority-label share; "
    "reported micro (vector-weighted) and macro (bucket-averaged) — "
    "the external-validity check for ANY unsupervised partitioning "
    "(LSH buckets here; swap the bucket expression for IVF "
    "assignments to score simsearch-ivf-probe's k-means). High "
    "purity means the buckets respect semantic structure, which is "
    "what makes bucket-pruned ANN search (simsearch-lsh-probe) "
    "recall-safe. Two map-side-combined groupBys, shuffles bounded "
    "by |buckets|x|labels| then |buckets|.",
)
def embed_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    tagged = e.select(
        "label", lsh_bucket(as_double(F.col("embedding"))).alias("bucket")
    )
    cells = tagged.groupBy("bucket", "label").agg(
        F.count("*").cast("long").alias("n")
    )
    per_bucket = cells.groupBy("bucket").agg(
        F.sum("n").cast("long").alias("bucket_n"),
        F.max("n").cast("long").alias("majority_n"),
    )
    return per_bucket.agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("bucket_n").cast("long").alias("n_vectors"),
        F.round(
            F.sum("majority_n").cast("double") / F.sum("bucket_n"), 6
        ).alias("weighted_purity"),
        F.round(
            F.avg(F.col("majority_n").cast("double") / F.col("bucket_n")), 6
        ).alias("macro_purity"),
    )


@query(
    "simsearch-two-stage-rerank",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                   {_sql_bucket('CAST(embedding AS DOUBLE[])')} AS bucket
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        q AS (SELECT e AS qv, bucket AS qb FROM v WHERE vec_id = 1),
        cands AS (
            SELECT v.vec_id,
                   list_dot_product(v.e, q.qv)
                   / (sqrt(list_dot_product(v.e, v.e))
                      * sqrt(list_dot_product(q.qv, q.qv))) AS sim
            FROM v, q WHERE v.bucket = q.qb AND v.vec_id <> 1
        ),
        approx AS (
            SELECT vec_id FROM cands
            ORDER BY sim DESC, vec_id LIMIT 10
        ),
        truth AS (
            SELECT v.vec_id FROM v, q WHERE v.vec_id <> 1
            ORDER BY list_dot_product(v.e, q.qv)
                     / (sqrt(list_dot_product(v.e, v.e))
                        * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                     v.vec_id
            LIMIT 10
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM cands)
                   AS n_candidates,
               (SELECT CAST(count(*) AS BIGINT)
                FROM approx a JOIN truth t ON t.vec_id = a.vec_id)
                   AS hits,
               round((SELECT count(*) FROM approx a
                      JOIN truth t ON t.vec_id = a.vec_id) / 10.0, 6)
                   AS recall_at_10
        """,
    doc="The production two-stage retrieval stack in one op: stage 1 "
    "prunes to the query's sign-LSH bucket (the partition a "
    "bucket-partitioned 100 TB table would read — ~1/256th of "
    "the corpus), stage 2 exact-cosine reranks the candidates, "
    "and the output SCORES ITSELF against the brute-force "
    "top-10 (recall@10) — retrieval quality and its cost "
    "trade-off measured in the same deterministic plan. Low "
    "recall here is the empirical argument for "
    "simsearch-lsh-multiprobe's neighbor-bucket expansion; the "
    "eval twin simsearch-recall-eval scores the IVF path the "
    "same way. Candidate scoring is broadcast-query codegen; "
    "both top-10s are TakeOrderedAndProject.",
)
def simsearch_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    v = emb.select(
        "vec_id",
        as_double(F.col("embedding")).alias("e"),
    ).withColumn("bucket", lsh_bucket(F.col("e")))
    q = v.filter(F.col("vec_id") == 1).select(
        F.col("e").alias("qv"), F.col("bucket").alias("qb")
    )
    # persist the scored relation: the bucket-filtered rerank (approx +
    # n_cand) AND the brute-force truth arm all consume it — unpersisted
    # the corpus cosine + 8-plane lsh_bucket pass (interpreted HOF dots)
    # planned 3x (6 embeddings scans in the r11 before-plan). Projected
    # to three narrow columns; release_caches() reclaims it.
    scored = (
        v.filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (F.col("bucket") == F.col("qb")).alias("is_cand"),
            cosine(F.col("e"), F.col("qv")).alias("sim"),
        )
        .persist()
    )
    cands = scored.filter(F.col("is_cand"))
    approx = cands.orderBy(F.col("sim").desc(), "vec_id").limit(10).select(
        "vec_id"
    )
    truth = scored.orderBy(F.col("sim").desc(), "vec_id").limit(10).select(
        F.col("vec_id").alias("tid")
    )
    n_cand = cands.agg(F.count("*").cast("long").alias("n_candidates"))
    hits = approx.join(truth, approx.vec_id == truth.tid).agg(
        F.count("*").cast("long").alias("hits")
    )
    return (
        n_cand.crossJoin(F.broadcast(hits))
        .select(
            "n_candidates",
            "hits",
            F.round(F.col("hits") / 10.0, 6).alias("recall_at_10"),
        )
    )
