"""Scale-safe global ordering: exact row_number / running sums / ntile
over an UNBOUNDED frame without ever moving the data to one partition.

Why this exists: ``Window.orderBy(...)`` with no partition spec is
correct but serial — Spark warns ``No Partition Defined for Window
operation! Moving all data to a single partition`` and funnels every row
through one task. Fine over a 10-row decile summary; a scale-killer over
a per-customer/per-document rollup whose cardinality grows with the
data (at 100 TB, "all customers" is billions of rows).

The fix is one range-partitioned sort:

1. **Sort** with ``orderBy(key, *tiebreakers)``. Spark's range exchange
   samples its own boundaries and leaves partition ``p`` holding rows
   that all sort before those of partition ``p + 1``; each partition is
   then sorted locally, in parallel.
2. **Position** each row with one ``monotonically_increasing_id`` over
   the sorted frame, which encodes the partition index (high 31 bits)
   and the row's position inside it (low 33 bits). That frame is
   persisted, so every later read sees the same ids.
3. **Offset** each partition by the rows (and sums) of all earlier
   partitions: one ``groupBy(partition)`` of at most shuffle-width rows
   is collected, prefix-summed in Python, and applied to every row
   as a literal array lookup. Grand totals come out of the same pass.

Running sums (``cum_sums``) add one window partitioned by the sort
partition and ordered by the id; no plan built on this helper contains
an empty-partition window, so ``tools/audit_plans.py`` keeps a hard "no
unbounded global windows" rule.

The ranks equal the single-partition ``row_number() OVER (ORDER BY
key, *tiebreakers)`` as long as ``(key, *tiebreakers)`` is a total
order (the same determinism discipline every oracle in this repo
already follows), for ANY range boundaries, because the exchange keeps
partitions in sort order; running sums equal ``sum() OVER`` the same
order up to floating-point summation order.

``exact_ntile`` converts the exact global rank into ANSI ``ntile(k)``
bucket ids (first ``N mod k`` buckets get ``ceil(N/k)`` rows) so
deciling ops reproduce their oracles' ntile exactly — no
approx-percentile drift at bucket edges.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from itertools import accumulate

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["with_global_order", "with_global_orders", "exact_ntile"]

# monotonically_increasing_id puts the partition index above bit 33
_POS_BITS = 33


def with_global_order(
    df: DataFrame,
    key: str,
    *,
    ascending: bool = True,
    tiebreakers: Sequence[str] = (),
    rn: str | None = None,
    cum_sums: Mapping[str, str] | None = None,
    total_count: str | None = None,
    total_sums: Mapping[str, str] | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Add exact global-order columns to ``df`` with no single-partition
    window.

    The sort runs, and the per-partition offsets are collected, when
    this function is CALLED (a few small jobs); the returned frame reads
    the persisted sorted rows. Time the call together with the action
    that consumes its result (``bench.py`` and ``perfbench`` do), and
    expect ``tools/audit_plans.py`` to execute this part of an op while
    it plans. Positions and offsets must come from the same persisted
    materialization: ``monotonically_increasing_id`` is only stable
    while the sorted frame stays cached, so the result is valid until
    ``release_caches()`` (which the registry calls after each op).

    Args:
        key: sort column of any orderable type. NULLs sort as in
            ``ORDER BY``: first ascending, last descending.
        ascending: sort direction for ``key`` (tiebreakers are always
            ascending, matching the ``ORDER BY key [DESC], tb1, tb2``
            oracles this repo writes).
        tiebreakers: columns completing a total order.
        rn: output name for the exact global ``row_number`` (None to skip).
        cum_sums: ``{out: src}`` inclusive running sums in global order,
            i.e. ``sum(src) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``:
            NULL until the first non-null ``src``, DOUBLE after.
        total_count: output name for the grand row count (None to skip).
        total_sums: ``{out: src}`` grand totals (DOUBLE, NULLs counted as
            0) attached to every row.
        n_buckets: range-partition count of the sort; None uses the
            session's shuffle width. Results do not depend on it.
    """
    cum_sums = dict(cum_sums or {})
    total_sums = dict(total_sums or {})
    srcs = sorted(set(cum_sums.values()) | set(total_sums.values()))

    key_order = F.col(key).asc() if ascending else F.col(key).desc()
    order = [key_order] + [F.col(t).asc() for t in tiebreakers]
    if n_buckets is None:
        d = df.orderBy(*order)
    else:
        d = df.repartitionByRange(n_buckets, *order)
        d = d.sortWithinPartitions(*order)
    d = d.withColumn("__go_id", F.monotonically_increasing_id()).persist()
    d = d.withColumn("__go_pid", F.shiftrightunsigned("__go_id", _POS_BITS))

    # per partition: row count, then (sum, non-null count) per src; a
    # NULL sum counts as 0 so an all-NULL partition cannot NULL the
    # offsets of later ones (the non-null counts decide NULL output)
    aggs = [F.count(F.lit(1))]
    for s in srcs:
        aggs += [F.sum(s).cast("double"), F.count(s)]
    rows = d.groupBy("__go_pid").agg(*aggs).collect()
    zero = [0] * len(aggs)
    per = {r[0]: [v or 0 for v in r[1:]] for r in rows}
    per = [per.get(p, zero) for p in range(1 + max(per, default=0))]
    # offs[p]: totals of all partitions before p; offs[-1]: grand totals
    offs = list(
        accumulate(per, lambda a, b: [x + y for x, y in zip(a, b)], initial=zero)
    )

    def at(j: int, dtype: str) -> Column:
        """Summary column ``j`` of the offset of this row's partition."""
        arr = F.lit([o[j] for o in offs[:-1]]).cast(f"array<{dtype}>")
        return arr[F.col("__go_pid")]

    out_cols = [F.col(c) for c in df.columns]
    if rn is not None:
        pos = F.col("__go_id").bitwiseAND((1 << _POS_BITS) - 1)
        out_cols.append((at(0, "bigint") + pos + 1).alias(rn))
    w = (
        Window.partitionBy("__go_pid")
        .orderBy("__go_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for out, src in cum_sums.items():
        j = 1 + 2 * srcs.index(src)
        local = F.sum(F.col(src).cast("double")).over(w)
        # sum() OVER (... ROWS UNBOUNDED PRECEDING) is NULL exactly until
        # the first non-null src in global order
        out_cols.append(
            F.when(
                at(j + 1, "bigint") + F.count(src).over(w) > 0,
                at(j, "double") + F.coalesce(local, F.lit(0.0)),
            ).alias(out)
        )
    if total_count is not None:
        out_cols.append(F.lit(offs[-1][0]).cast("long").alias(total_count))
    for out, src in total_sums.items():
        total = offs[-1][1 + 2 * srcs.index(src)]
        out_cols.append(F.lit(float(total)).alias(out))
    return d.select(*out_cols)


def exact_ntile(rn: Column, n_rows: Column, k: int) -> Column:
    """ANSI ``ntile(k)`` bucket id from an exact global rank.

    ntile semantics: with ``N`` rows, the first ``N mod k`` buckets get
    ``ceil(N/k)`` rows, the rest ``floor(N/k)`` — reproduced in closed
    form so the result is bit-identical to the oracle's ``ntile`` (an
    approx-percentile binning would drift at bucket edges).
    """
    n = n_rows.cast("long")
    q = F.floor(n / k).cast("long")
    r = (n % k).cast("long")
    big = q + F.lit(1)
    cutoff = r * big
    # guard the q=0 (N < k) divisor: that branch is only *selected* when
    # rn > cutoff = N, which cannot happen, but keep ANSI div safe.
    q_safe = F.greatest(q, F.lit(1))
    return (
        F.when(rn <= cutoff, F.ceil(rn / big))
        .otherwise(r + F.ceil((rn - cutoff) / q_safe))
        .cast("long")
    )


def with_global_orders(
    df: DataFrame,
    specs: Sequence[Mapping],
    *,
    total_count: str | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Exact global ``row_number`` over several independent sort orders:
    one :func:`with_global_order` call per spec, chained.

    Each spec is a mapping with ``key``, ``rn`` (output name), optional
    ``ascending`` (default True) and ``tiebreakers``. Output columns are
    ``df``'s, then each spec's ``rn``, then ``total_count``.
    """
    for i, s in enumerate(specs):
        df = with_global_order(
            df,
            s["key"],
            ascending=s.get("ascending", True),
            tiebreakers=s.get("tiebreakers", ()),
            rn=s["rn"],
            total_count=total_count if i == len(specs) - 1 else None,
            n_buckets=n_buckets,
        )
    return df
