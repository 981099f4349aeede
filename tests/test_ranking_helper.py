"""Property tests for operators/ranking.py (the round-5 two-phase
global-order helper): the helper must be BIT-IDENTICAL to the
single-partition global window it replaces, for any data distribution
and any bucket count — exactness is the contract that lets oracle
parity hold while the plan stays parallel.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from transit_scrape_spark.operators.ranking import exact_ntile, with_global_order
from transit_scrape_spark.plans.inspect import executed_plan, global_window_count


def _mk(spark, n=500, skew=False):
    df = spark.range(n).select(
        F.col("id").alias("k"),
        # heavy ties + optional skew: worst case for range bucketing
        (
            (F.col("id") * 37 % 13).cast("double")
            if not skew
            else F.when(F.col("id") % 10 < 9, 1.0).otherwise(
                (F.col("id") % 97).cast("double")
            )
        ).alias("v"),
        ((F.col("id") * 7919) % 101).cast("double").alias("x"),
    )
    return df


@pytest.mark.parametrize("ascending", [True, False])
@pytest.mark.parametrize("n_buckets", [1, 4, 64])
def test_rank_and_cumsum_match_global_window(spark, ascending, n_buckets):
    df = _mk(spark)
    got = with_global_order(
        df,
        "v",
        ascending=ascending,
        tiebreakers=("k",),
        rn="rn",
        cum_sums={"cx": "x"},
        total_count="n",
        total_sums={"tx": "x"},
        n_buckets=n_buckets,
    )
    order = [F.col("v").asc() if ascending else F.col("v").desc(), F.col("k")]
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "k",
        F.row_number().over(w).alias("rn"),
        F.sum("x").over(w).alias("cx"),
    )
    j = got.select("k", "rn", "cx").alias("g").join(
        want.alias("w"), "k"
    )
    bad = j.filter(
        (F.col("g.rn") != F.col("w.rn"))
        | (F.abs(F.col("g.cx") - F.col("w.cx")) > 1e-9)
    )
    assert bad.count() == 0
    one = got.select("n", "tx").first()
    assert one["n"] == 500
    assert abs(one["tx"] - df.agg(F.sum("x")).first()[0]) < 1e-6


def test_skewed_keys_stay_exact(spark):
    # 90% of rows share one key value: buckets collapse, exactness must
    # survive (parallelism degrades gracefully, correctness never)
    df = _mk(spark, skew=True)
    got = with_global_order(
        df, "v", tiebreakers=("k",), rn="rn", n_buckets=32
    )
    w = Window.orderBy("v", "k")
    want = df.select("k", F.row_number().over(w).alias("rn"))
    j = got.select("k", "rn").alias("g").join(want.alias("w"), "k")
    assert j.filter(F.col("g.rn") != F.col("w.rn")).count() == 0


def test_exact_ntile_matches_builtin(spark):
    df = _mk(spark, n=103)  # prime: uneven buckets in every ntile
    for k in (2, 5, 10, 200):  # 200 > n exercises the q=0 branch
        got = with_global_order(
            df, "v", tiebreakers=("k",), rn="rn", total_count="n"
        ).select(
            "k", exact_ntile(F.col("rn"), F.col("n"), k).alias("t")
        )
        want = df.select(
            "k",
            F.ntile(k).over(Window.orderBy("v", "k")).cast("long").alias("t"),
        )
        j = got.alias("g").join(want.alias("w"), "k")
        assert j.filter(F.col("g.t") != F.col("w.t")).count() == 0, k


def test_helper_plan_has_no_global_window(spark):
    df = _mk(spark)
    got = with_global_order(
        df, "v", tiebreakers=("k",), rn="rn", cum_sums={"cx": "x"}
    )
    assert global_window_count(executed_plan(got)) == 0


def test_empty_input(spark):
    df = _mk(spark).filter(F.lit(False))
    got = with_global_order(df, "v", rn="rn", total_count="n")
    assert got.count() == 0


def _assert_cumsum_matches_oracle(spark, df, n_buckets):
    got = with_global_order(
        df, "v", tiebreakers=("k",), rn="rn", cum_sums={"cx": "x"},
        n_buckets=n_buckets,
    )
    w = Window.orderBy(F.col("v"), F.col("k")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = df.select("k", F.sum("x").over(w).alias("cx"))
    j = got.select("k", "cx").alias("g").join(want.alias("w"), "k")
    bad = j.filter(
        ~(
            (F.col("g.cx") == F.col("w.cx"))
            | (F.col("g.cx").isNull() & F.col("w.cx").isNull())
        )
    ).count()
    assert bad == 0


def test_all_null_bucket_does_not_poison_offsets(spark):
    """Regression (r6): a bucket whose cum_sums src is entirely NULL
    must not NULL-poison the prefix offsets of every later bucket.
    NULL semantics must still match the global window (NULL until the
    first non-null src in global order, then sum of non-nulls)."""
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("v"),
        # first quarter of the key range is all-NULL x
        F.when(F.col("id") >= 100, (F.col("id") % 7).cast("double")).alias("x"),
    )
    _assert_cumsum_matches_oracle(spark, df, n_buckets=8)


@pytest.mark.parametrize("n_buckets", [1, 4, 8, 64])
def test_interleaved_null_src_matches_oracle(spark, n_buckets):
    """Regression (r7, from ADVICE): NULL srcs INTERLEAVED with non-nulls
    — including a NULL row opening a bucket after earlier non-null
    buckets — must reproduce the oracle window exactly: a row after the
    first non-null gets the running sum of prior non-nulls, never NULL.
    Output must also be invariant to n_buckets."""
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("v"),
        # NULL on every 3rd row, plus an all-NULL stretch mid-range so
        # some buckets start on (or consist entirely of) NULL srcs
        F.when(
            (F.col("id") % 3 != 0) & ~F.col("id").between(180, 260),
            (F.col("id") % 7).cast("double"),
        ).alias("x"),
    )
    _assert_cumsum_matches_oracle(spark, df, n_buckets=n_buckets)


def test_all_null_src_everywhere_stays_null(spark):
    """Degenerate contract: a src that is NULL on EVERY row yields an
    all-NULL cum_sum, matching the oracle window."""
    df = spark.range(50).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("v"),
        F.lit(None).cast("double").alias("x"),
    )
    _assert_cumsum_matches_oracle(spark, df, n_buckets=4)


def test_big_int_keys_beyond_double_resolution(spark):
    """Regression (r6): integer keys with magnitude beyond 2^53 must
    order exactly (the double cast is for bucketing only); adjacent
    giant keys that collapse to the same double would otherwise fall
    to tiebreakers and diverge from the oracle's exact ORDER BY."""
    base = 1 << 60
    # adjacent longs around 2^60: indistinguishable as doubles
    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.lit(base) + (F.col("id") * 3 % 299)).cast("long").alias("v"),
    )
    got = with_global_order(df, "v", tiebreakers=("k",), rn="rn", n_buckets=8)
    w = Window.orderBy(F.col("v").asc(), F.col("k").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = df.select("k", F.row_number().over(w).alias("rn"))
    j = got.select("k", "rn").alias("g").join(want.alias("w"), "k")
    assert j.filter(F.col("g.rn") != F.col("w.rn")).count() == 0


@pytest.mark.parametrize("n_buckets", [1, 8, 64])
def test_fused_multi_key_matches_global_windows(spark, n_buckets):
    """with_global_orders must be bit-identical to one single-partition
    global window PER SPEC, including mixed directions and ties."""
    from transit_scrape_spark.operators.ranking import with_global_orders

    df = _mk(spark, skew=True)
    got = with_global_orders(
        df,
        [
            {"key": "v", "rn": "rv", "tiebreakers": ("k",)},
            {"key": "x", "ascending": False, "rn": "rx",
             "tiebreakers": ("k",)},
        ],
        total_count="n",
        n_buckets=n_buckets,
    )
    w1 = Window.orderBy(F.col("v").asc(), F.col("k"))
    w2 = Window.orderBy(F.col("x").desc(), F.col("k"))
    want = df.select(
        "k",
        F.row_number().over(w1).alias("rv"),
        F.row_number().over(w2).alias("rx"),
    )
    j = got.alias("g").join(want.alias("w"), "k")
    bad = j.filter(
        (F.col("g.rv") != F.col("w.rv")) | (F.col("g.rx") != F.col("w.rx"))
    ).count()
    assert bad == 0
    assert got.select("n").distinct().collect()[0][0] == df.count()
    assert global_window_count(executed_plan(got)) == 0


@pytest.mark.parametrize("ascending", [True, False])
def test_null_keys_sort_as_order_by(spark, ascending):
    """NULL sort keys rank as in ``ORDER BY``: first ascending, last
    descending — for row_number and for running sums alike."""
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 != 0, (F.col("id") * 37 % 13).cast("double"))
        .alias("v"),
        (F.col("id") % 7).cast("double").alias("x"),
    )
    got = with_global_order(
        df, "v", ascending=ascending, tiebreakers=("k",), rn="rn",
        cum_sums={"cx": "x"}, n_buckets=8,
    )
    order = [F.col("v").asc() if ascending else F.col("v").desc(), F.col("k")]
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "k", F.row_number().over(w).alias("rn"), F.sum("x").over(w).alias("cx")
    )
    j = got.select("k", "rn", "cx").alias("g").join(want.alias("w"), "k")
    bad = j.filter(
        (F.col("g.rn") != F.col("w.rn"))
        | ~F.col("g.cx").eqNullSafe(F.col("w.cx"))
    )
    assert bad.count() == 0


@pytest.mark.parametrize(
    "case, budget",
    [("rank-totals", 7), ("rank-cum-sums", 7), ("fused-two-keys", 11)],
)
def test_helper_job_budget(spark, case, budget):
    """One range sort, one small offset collect and (for running sums)
    one partitioned window per key: a noop write of the ranked 500-row
    frame stays within a fixed number of Spark jobs (the percentile-
    sketch form ran 13, 13 and 21)."""
    import uuid

    from transit_scrape_spark.operators.ranking import with_global_orders
    from transit_scrape_spark.session import release_caches

    df = _mk(spark)
    build = {
        "rank-totals": lambda: with_global_order(
            df, "v", tiebreakers=("k",), rn="rn", total_count="n",
            total_sums={"tx": "x"},
        ),
        "rank-cum-sums": lambda: with_global_order(
            df, "v", tiebreakers=("k",), rn="rn", cum_sums={"cx": "x"},
        ),
        "fused-two-keys": lambda: with_global_orders(
            df,
            [
                {"key": "v", "rn": "rv", "tiebreakers": ("k",)},
                {"key": "x", "ascending": False, "rn": "rx",
                 "tiebreakers": ("k",)},
            ],
            total_count="n",
        ),
    }[case]
    sc = spark.sparkContext
    group = f"rank-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build().write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_caches(spark)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= budget
