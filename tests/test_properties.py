"""Property-based tests (hypothesis) — SURVEY §5 point 2: round-trip and
expression-vs-reference-implementation properties over generated inputs.

Spark jobs per example are expensive, so properties batch all generated
cases into ONE DataFrame per test run (hypothesis generates the data,
Spark evaluates the whole batch once).
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from transit_scrape_spark.functions.gridref import os_grid_reference_py

finite = st.floats(
    min_value=-2e6, max_value=2e6, allow_nan=False, allow_infinity=False
)
coord = st.tuples(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
)


@given(st.lists(st.tuples(finite, finite), min_size=1, max_size=60))
@settings(max_examples=200, deadline=None)
def test_gridref_python_reference_total(pts):
    """The Python twin never raises on finite inputs at valid precisions
    and returns '' exactly when out of the valid 100km-grid domain."""
    import math

    for e, n in pts:
        for prec in (6, 8, 10):
            ref = os_grid_reference_py(e, n, prec)
            # the domain test is on the COMPUTED 100km indices (matters at
            # float-underflow edges: floor(-5e-324/1e5) == 0, in-domain)
            in_domain = (
                0 <= math.floor(e / 100000) <= 6 and 0 <= math.floor(n / 100000) <= 12
            )
            if not in_domain:
                assert ref == ""
            elif n < 1000000:  # reference's n>=1e6 quirk documented in gridref.py
                assert ref != "" and ref[0:2].isalpha()


def test_gridref_expression_matches_python_on_batch(spark):
    """Expression == Python reference over a deterministic sweep of the
    domain, including every 100km-square corner and out-of-range bands."""
    cases = []
    for e in range(-100000, 800000, 50000):
        for n in range(-100000, 1000000, 50000):
            cases.append((float(e) + 0.5, float(n) + 0.25))
    df = spark.createDataFrame(cases, "e double, n double")
    from transit_scrape_spark.functions.gridref import os_grid_reference

    out = df.select(
        "e",
        "n",
        *[os_grid_reference(F.col("e"), F.col("n"), p).alias(f"p{p}") for p in (6, 8, 10)],
    ).collect()
    for r in out:
        for p in (6, 8, 10):
            assert r[f"p{p}"] == os_grid_reference_py(r["e"], r["n"], p), (
                r["e"],
                r["n"],
                p,
            )


def test_wkt_roundtrip_property(spark):
    """wkt_to_linestring(linestring_to_wkt(c)) == c for random finite
    coordinate lists and the empty list (doubles survive the string
    round-trip because Java's shortest-repr double formatting is read
    back exactly)."""
    import random

    rng = random.Random(42)
    cases = [
        [
            [rng.uniform(-1e6, 1e6), rng.uniform(-1e6, 1e6)]
            for _ in range(rng.randint(2, 10))
        ]
        for _ in range(200)
    ] + [[]]
    from transit_scrape_spark.functions.geo import linestring_to_wkt, wkt_to_linestring

    df = spark.createDataFrame(
        [(c,) for c in cases], "coordinates array<array<double>>"
    )
    out = df.select(
        "coordinates",
        wkt_to_linestring(linestring_to_wkt(F.col("coordinates"))).alias("back"),
    ).collect()
    for r in out:
        assert r["back"] == r["coordinates"]


def test_minhash_jaccard_estimate_property(spark, sf_dir):
    """LSH theory sanity: planted near-dup pairs' true shingle Jaccard is
    high (>0.5 for docs long enough), and the 12-perm signature agreement
    rate is a plausible estimator (within 0.35 absolute for 12 perms)."""
    from transit_scrape_spark.operators.dedup import (
        shingle_hash_rows,
        signature_columns,
    )
    from transit_scrape_spark.queries.minhash import NUM_PERM, _corpus
    from transit_scrape_spark.operators.dedup import jaccard

    sh_rows = shingle_hash_rows(_corpus(spark, sf_dir))
    hashed = sh_rows.groupBy("doc_id").agg(
        *signature_columns(NUM_PERM), F.collect_list("sh").alias("sh")
    )
    o = hashed.alias("o")
    m = hashed.alias("m")
    sig_match = sum(
        (F.col(f"o._m{k}") == F.col(f"m._m{k}")).cast("int") for k in range(NUM_PERM)
    ) / float(NUM_PERM)
    pairs = (
        o.join(m, F.col("m.doc_id") == F.col("o.doc_id") + 1000000)
        .select(
            jaccard(F.col("o.sh"), F.col("m.sh")).alias("jac"),
            sig_match.alias("est"),
        )
        .collect()
    )
    n_close = sum(1 for r in pairs if abs(r["jac"] - r["est"]) <= 0.35)
    assert n_close / len(pairs) > 0.9  # estimator tracks truth for >90% of pairs


def test_gridshift_interpolation_error_bound_property(spark):
    """Bilinear interpolation of the 10 km shift grid reproduces the
    generating field to <1 cm at ARBITRARY in-grid points, not just the
    golden-test picks — the guarantee that makes the real OSTN15 grid a
    drop-in. Points drawn deterministically from a seeded RNG across the
    full GB extent including cell corners/edges."""
    import random

    from transit_scrape_spark.functions.geo import (
        GRID_CELL_M,
        GRID_NI,
        GRID_NJ,
        build_shift_grid_cells,
        gridshift_apply,
        ostn15_like_shift_exprs,
    )

    rng = random.Random(1729)
    pts = []
    for _ in range(200):
        e = rng.uniform(0, GRID_NI * GRID_CELL_M - 1e-6)
        n = rng.uniform(0, GRID_NJ * GRID_CELL_M - 1e-6)
        pts.append((e, n))
    # adversarial placements: exact nodes, cell edges, near-node offsets
    for k in range(10):
        pts.append((k * GRID_CELL_M, k * GRID_CELL_M))
        pts.append((k * GRID_CELL_M + 1e-3, (k + 3) * GRID_CELL_M - 1e-3))

    df = spark.createDataFrame(pts, "e double, n double")
    out = gridshift_apply(df, build_shift_grid_cells(spark))
    se_true, sn_true = ostn15_like_shift_exprs(F.col("e"), F.col("n"))
    worst = out.select(
        F.greatest(
            F.abs(F.col("shift_e") - se_true), F.abs(F.col("shift_n") - sn_true)
        ).alias("err")
    ).agg(F.max("err").alias("worst")).collect()[0]["worst"]
    assert worst < 0.01, f"worst interpolation error {worst} m >= 1 cm"
