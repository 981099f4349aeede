"""Persist/unpersist hygiene (VERDICT r3 item 5).

Several ops legitimately ``.persist()`` a working set for multi-action
algorithms (IVF k-means training, graph components/triangles) and hand the still-cached final relation to the
caller — releasing it INSIDE the op would defeat the cache before the
caller materializes. The contract is therefore registry-level: after an
op's output is materialized, ``release_caches(spark)`` drops everything,
and a long-lived session sweeping all 280 ops retains zero storage.

bench.py and the driver-sim sweep both call release_caches per op; this
test proves the helper actually reaches every persist the known
cache-using ops create.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

from transit_scrape_spark.queries.registry import registry
from transit_scrape_spark.session import persistent_rdd_count, release_caches


def _derive_persisting_helpers() -> tuple[set[str], dict[str, set[int]]]:
    """Module-level functions in operators/*.py that call
    ``.persist()``/``.cache()`` themselves (r11: with_global_order(s)
    persist their multi-consumed input). Returns (helper names,
    {file name -> persist-site line numbers inside those helpers}) so
    the completeness scan can treat exactly those sites as covered while
    the op derivation treats CALLING such a helper as using persist."""
    names: set[str] = set()
    sites_by_file: dict[str, set[int]] = {}
    ops_pkg = pathlib.Path(__file__).resolve().parent.parent / (
        "transit_scrape_spark/operators"
    )
    for p in sorted(ops_pkg.glob("*.py")):
        tree = ast.parse(p.read_text())
        for node in tree.body:  # module-level defs only
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            sites = {
                n.lineno
                for n in ast.walk(node)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("persist", "cache")
            }
            if sites:
                names.add(node.name)
                sites_by_file.setdefault(p.name, set()).update(sites)
    return names, sites_by_file


_PERSISTING_HELPERS, _HELPER_PERSIST_SITES = _derive_persisting_helpers()


def _calls_persist(node: ast.AST) -> bool:
    """True if the function body persists directly OR calls a
    persisting operators/ helper (by name — callers import the helper
    name directly throughout the repo)."""
    for n in ast.walk(node):
        if not isinstance(n, ast.Call):
            continue
        if (
            isinstance(n.func, ast.Attribute)
            and n.func.attr in ("persist", "cache")
        ):
            return True
        name = getattr(n.func, "id", getattr(n.func, "attr", ""))
        if name in _PERSISTING_HELPERS:
            return True
    return False


def _derive_persist_ops() -> tuple[list[str], list[str]]:
    """Scan the queries package AST for @query-decorated functions that
    call ``.persist()``/``.cache()`` — the hand-maintained list went
    stale twice (r3, r6), so the registry-level cache contract is now
    enforced against the MECHANICALLY derived set. Calling a persisting
    operators/ helper (``_derive_persisting_helpers``) counts as
    persisting: the r11 rank-helper persist would otherwise hide every
    caller from the hygiene sweep. ``test_scan_is_complete`` asserts
    every OTHER persist site in the package sits inside a decorated
    query function in queries/*.py.

    Returns (ops, unextractable): the second list names @query functions
    that use persist/cache but whose op id is not a string literal — the
    derivation can't see those, so the completeness test fails on any
    (ADVICE r7: a computed id would otherwise silently escape the sweep).
    """
    ops: list[str] = []
    unextractable: list[str] = []
    pkg = pathlib.Path(__file__).resolve().parent.parent / (
        "transit_scrape_spark/queries"
    )
    for p in sorted(pkg.glob("*.py")):
        tree = ast.parse(p.read_text())
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            op_id = None
            has_query_dec = False
            for dec in node.decorator_list:
                name = getattr(dec.func, "id", getattr(dec.func, "attr", "")) \
                    if isinstance(dec, ast.Call) else ""
                if name == "query":
                    has_query_dec = True
                    if dec.args and isinstance(dec.args[0], ast.Constant):
                        op_id = dec.args[0].value
            if not _calls_persist(node):
                continue
            if op_id is not None:
                ops.append(op_id)
            elif has_query_dec:
                unextractable.append(f"{p.name}:{node.lineno}:{node.name}")
    return ops, unextractable


_PERSIST_OPS, _UNEXTRACTABLE = _derive_persist_ops()

# Ops that once persisted and now build their result without a cache stay
# in the sweep, so a cache brought back by another route (a helper the
# derivation cannot see) still has to be released.
_FORMER_PERSIST_OPS = ("dedup-near-minhash",)
_SWEEP_OPS = _PERSIST_OPS + [
    op for op in _FORMER_PERSIST_OPS if op not in _PERSIST_OPS
]


def test_scan_is_complete():
    """Every persist/cache call site anywhere in the package must sit
    inside a @query function in queries/*.py — otherwise
    _derive_persist_ops would miss the op that reaches it and the hygiene
    sweep silently shrinks. Scans the WHOLE transit_scrape_spark tree
    (ADVICE r7: a persist added to operators/, session helpers, or a
    queries/ subpackage previously escaped both the derivation and this
    guard)."""
    root = pathlib.Path(__file__).resolve().parent.parent / "transit_scrape_spark"
    queries_pkg = root / "queries"
    operators_pkg = root / "operators"
    orphans = []
    for p in sorted(root.rglob("*.py")):
        tree = ast.parse(p.read_text())
        covered: set[int] = set()
        # only @query functions in top-level queries/*.py count as covered —
        # the derivation scans exactly that set.
        if p.parent == queries_pkg:
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
                    isinstance(d, ast.Call)
                    and getattr(d.func, "id", getattr(d.func, "attr", "")) == "query"
                    for d in node.decorator_list
                ):
                    covered.update(range(node.lineno, node.end_lineno + 1))
        # persist sites inside derived persisting helpers in operators/
        # are covered too: the op derivation counts CALLING one of those
        # helpers as persisting, so every op reaching these sites is in
        # the hygiene sweep (r11, rank-helper persist).
        elif p.parent == operators_pkg:
            covered.update(_HELPER_PERSIST_SITES.get(p.name, set()))
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("persist", "cache")
                and n.lineno not in covered
            ):
                orphans.append(f"{p.relative_to(root)}:{n.lineno}")
    assert not orphans, f"persist sites outside @query functions: {orphans}"
    # @query functions with persist but a non-literal op id would escape
    # the derivation entirely — fail loudly instead (ADVICE r7).
    assert not _UNEXTRACTABLE, (
        f"@query persist-users with non-literal op ids: {_UNEXTRACTABLE}"
    )
    # sanity: the derivation found the known heavy persist users
    for known in ("simsearch-ivf-probe", "graph-pagerank", "analytics-rfm"):
        assert known in _PERSIST_OPS


@pytest.mark.parametrize("op_id", _SWEEP_OPS)
def test_release_caches_clears_op(spark, sf_dir, op_id):
    reg = registry()
    if op_id not in reg:
        pytest.skip(f"{op_id} not registered")
    release_caches(spark)  # clean slate regardless of test order
    df = reg[op_id].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    release_caches(spark)
    assert persistent_rdd_count(spark) == 0


def test_release_caches_idempotent(spark):
    release_caches(spark)
    assert release_caches(spark) == 0
    assert persistent_rdd_count(spark) == 0
