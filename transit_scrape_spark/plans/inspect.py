"""Physical-plan inspection utilities.

The engine's scale guarantees are plan properties (pushdown reached the
scan, the dim side broadcast, top-k avoided a global sort). These
helpers make those properties assertable in tests and inspectable in
notebooks — the `.explain("formatted")`-and-iterate loop as code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE-planning) physical plan string."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters clauses from every scan in the plan."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            out.append(line[len("PushedFilters:"):].strip())
    return out


def global_window_count(plan: str) -> int:
    """Number of WindowExec nodes with NO partition spec — the
    single-partition scale hazard (`WindowExec: No Partition Defined`).

    Plan-text shape of a Window node is ``Window [exprs], [partition?],
    [order?]`` with empty specs omitted, so the bracket-group count
    alone is ambiguous: partitioned-without-order and global-ordered
    both show two groups. Disambiguate by content — an order spec
    carries ``ASC``/``DESC`` sort markers, a partition spec does not:

    - 3 groups: partitioned + ordered -> fine.
    - 2 groups, last has sort markers: global ordered -> FLAG.
    - 2 groups, no sort markers: partitioned, no order -> fine.
    - 1 group: empty partition, no order -> FLAG.

    A global window whose DIRECT child is ``TakeOrderedAndProject``
    (rank-filter rewritten to a top-k: input is exactly k rows) or
    ``WindowGroupLimit`` (per-partition prune: input is <= k rows per
    map partition) is NOT flagged — the plan itself bounds the serial
    input, which is how top-k-by-rank ops stay scale-safe.
    """
    import re

    n = 0
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not re.search(r"\bWindow \[", line):
            continue
        if "windowspecdefinition" not in line:
            continue
        seps = line.count("], [")
        if seps >= 2:
            continue
        if seps == 1:
            last = line.rsplit("], [", 1)[1]
            if " ASC" not in last and " DESC" not in last:
                continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        if "TakeOrderedAndProject" in child or "WindowGroupLimit" in child:
            continue
        n += 1
    return n


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the final plan (broadcast exchanges
    excluded) — the first number to check before a scale-up."""
    plan = executed_plan(df)
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


def _split_inmemory_blocks(plan: str) -> tuple[str, list[str]]:
    """Split a plan string into (text outside InMemoryRelation lineage,
    list of lineage block texts). The plan text repeats a cached
    relation's full build lineage under EVERY InMemoryTableScan that
    reads it, but that lineage executes at most once (at cache build) —
    per-scan copies are documentation, not work."""
    import re

    def depth(s: str) -> int:
        return len(re.match(r"[ :]*", s).group(0))

    lines = plan.splitlines()
    out: list[str] = []
    blocks: list[str] = []
    i = 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" in line:
            d0 = depth(line)
            j = i + 1
            blk = [line]
            while j < len(lines) and depth(lines[j]) > d0:
                blk.append(lines[j])
                j += 1
            blocks.append("\n".join(blk))
            i = j
        else:
            out.append(line)
            i += 1
    return "\n".join(out), blocks


def live_exchange_count(plan: str) -> int:
    """Shuffle-exchange count with cached lineage DEDUPLICATED: each
    distinct InMemoryRelation's build lineage is counted once (it runs
    once, at cache build), not once per InMemoryTableScan referencing
    it. Expression ids (#123) and plan ids differ between the printed
    copies of the same relation, so dedup keys normalize them away.
    For plans with no cache this equals the plain text count."""
    import re

    body, blocks = _split_inmemory_blocks(plan)

    def norm(b: str) -> str:
        # copies of the same relation differ in (a) whole-stage-codegen
        # stage ids — '*(3)' vs '*(7)' for the same subtree, (b) absolute
        # tree indentation (their position under each scan), and (c)
        # expression/plan ids. Normalize stage ids away, then rebase each
        # line's depth to the block root — PRESERVING relative depth so
        # two structurally different lineages with identical node text
        # don't collapse into one.
        b = re.sub(r"(\*|WholeStageCodegen )\(\d+\)", r"\1", b)
        lines = b.splitlines()
        depths = [len(re.match(r"[ :+|*-]*", ln).group(0)) for ln in lines]
        base = depths[0] if depths else 0
        rebased = [
            " " * max(0, d - base) + re.sub(r"^[ :+|*-]*", "", ln)
            for ln, d in zip(lines, depths)
        ]
        return re.sub(r"#\d+|plan_id=\d+", "", "\n".join(rebased))

    distinct: dict[str, str] = {}
    for b in blocks:
        distinct.setdefault(norm(b), b)
    text = "\n".join([body, *distinct.values()])
    return text.count("Exchange hashpartitioning") + text.count(
        "Exchange rangepartitioning"
    )
