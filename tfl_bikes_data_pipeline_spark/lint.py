"""Broadcast-hint policy as a machine-checked plan lint.

Policy (PLANS.md "Broadcast-hint policy", set by two measured
incidents — ``q_dq_audit`` broadcast the orders key set and ran 15.5×
at a 10× replica; ``q_bloom_filter_probe`` repeated the pattern with
the customer key set): a ``F.broadcast`` / ``hint("broadcast")`` is
legal ONLY when the hinted relation's cardinality is bounded by
construction, never by fixture luck. Bounded means one of:

* it reads no SF-grown base table at all (fixed dims like nation and
  region, ``LocalRelation`` algorithm state such as collected
  centroids/codebooks, inline ranges);
* every path from the hint down to an SF-grown scan passes a GLOBAL
  aggregate (no grouping keys → exactly one row);
* every such path passes a plan-level ``limit(n)`` — the idiom for
  "grouped aggregate with a structurally bounded key domain" (e.g. a
  bloom sketch grouped on ``pos/64 < 256``): the author declares the
  bound with ``.limit(bound)`` right where the proof lives, the limit
  is a no-op at runtime (the bound holds by construction), and the
  broadcast can never exceed ``bound`` rows even if the proof rots.
  Reserve this for relations that are TINY by construction (sketch
  cells, shortlists): a mid-plan ``limit(n)`` physically plans
  ``GlobalLimit`` over an ``Exchange SinglePartition`` — every row
  funnels through ONE task, which on a row-heavy relation is itself
  the scale hazard this lint exists to prevent;
* every such path passes a Filter carrying a literal upper bound on a
  single attribute (``vec_id < 1200`` — the seed-centroid /
  seed-plane / query-prefix idiom): the author's structural-bound
  declaration lives in the predicate itself, costs nothing (it pushes
  to the scan), and mutates no plan topology. Heuristic limits,
  documented: the attribute is not proven unique (a ``quantity < 24``
  filter would false-pass — no measured incident has that shape: the
  dq_audit/bloom incidents were key sets built by distinct/semi-join,
  no literal bound anywhere), and the literal itself may be derived
  from data (k = n/50) — which is the IVF design's own documented,
  bounded-by-construction growth.

Everything else — key sets, semi-join outputs, grouped aggregates on
data-cardinality keys — must go unhinted and let AQE decide from
measured sizes (it still picks BHJ at fixture scale; at 100 TB it
correctly won't).

The walk runs on the ANALYZED logical plan, where every explicit hint
survives as a ``ResolvedHint`` node. This deliberately ignores
broadcasts the optimizer chooses on its own (size-statistics BHJ):
those re-derive per run and are exactly what the policy delegates to
AQE. Only the hints we hard-code can hurt at scale, so only they are
linted.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

#: base tables whose row count grows with the scale factor — a forced
#: broadcast of anything cardinality-tied to these is a scale incident
#: waiting to happen. nation/region are fixed-size by the data model
#: and deliberately absent.
SF_GROWN_TABLES = (
    "customer",
    "supplier",
    "part",
    "partsupp",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: logical nodes that cap the row count of everything above them:
#: GlobalLimit/LocalLimit from ``df.limit(n)`` (and Sort+Limit top-k).
_LIMIT_NODES = ("GlobalLimit", "LocalLimit")

_TABLE_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)\.(?:parquet|csv|json|txt|orc)")

#: a Filter conjunct of the shape ``attr#123L < 4567`` — the
#: literal-upper-bound declaration (see module docstring for the
#: heuristic's limits). Cast wrappers are accepted; disjunctions are
#: not (an OR branch voids the bound), checked by the caller. The
#: literal must be a WHOLE integer: the trailing negative lookahead
#: rejects date (``2020-01-01``), timestamp (``00:00:00``) and
#: fractional (``0.5``) literals whose digit prefix would otherwise
#: parse as a row bound (a ``ts < 2026-01-01`` filter bounds nothing).
_BOUND_FILTER_RE = re.compile(
    r"\(?(?:cast\()?[A-Za-z_][A-Za-z0-9_]*#\d+L?(?: as \w+\))?"
    r" < (?:cast\()?(\d+)(?![\d.:\-])(?: as \w+\))?\)?"
)
#: sanity ceiling on an accepted literal bound — anything above this is
#: not a broadcastable relation no matter what the author declared.
#: 1M rows ≈ tens of MB for a narrow key relation, the upper edge of a
#: sane broadcast; the real uses are 40-5000 (seed centroids, planes,
#: query prefixes). Was 50M through r9 — an accepted 50M-row build side
#: is an executor OOM, not a bound (r9 verdict finding 3).
_BOUND_LITERAL_CAP = 1_000_000


def _is_bound_filter(condition_str: str) -> bool:
    if " OR " in condition_str or " or " in condition_str:
        return False
    m = _BOUND_FILTER_RE.search(condition_str)
    return bool(m) and int(m.group(1)) <= _BOUND_LITERAL_CAP


#: nodes that may sit between a bound Filter and the leaf scan it
#: bounds without voiding the declaration: row-wise, cardinality-
#: preserving-or-shrinking, single-child shapes only (Repartition
#: covers the fixture-scale tables.ensure_scan_parallelism round-robin).
_NARROW_CHAIN_NODES = (
    "Project",
    "SubqueryAlias",
    "Filter",
    "Sort",
    "Repartition",
    "RepartitionByExpression",
    "Deduplicate",
)


def _filter_sits_on_leaf(node, narrow_nodes: tuple = _NARROW_CHAIN_NODES) -> bool:
    """True iff the subtree under a bound Filter is a single-child
    chain of narrow nodes ending at a leaf. A literal bound declared
    ABOVE a join/aggregate/union bounds only one attribute's range,
    not the subtree's row count (``o_custkey < 1000`` over a join of
    SF-grown scans can still be millions of rows) — honoring it there
    silenced the lint for whole subtrees through r9 (ADVICE r9)."""
    cur = node
    while True:
        kids = _children(cur)
        if not kids:
            return True  # reached the leaf: the chain was narrow
        if len(kids) != 1:
            return False  # join/union below the filter: bound voided
        cur = kids[0]
        if _children(cur) and cur.getClass().getSimpleName() not in narrow_nodes:
            return False  # wide/unknown intermediate node


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.length())]


def _leaf_tables(node) -> set:
    """SF-grown table names scanned by a leaf relation node, matched on
    the scan's root file paths (the engine loads every base table from
    ``<sf_dir>/<table>.parquet``). Non-file leaves (``LocalRelation``
    algorithm state, ``Range``, memory-sink views) scan nothing."""
    try:
        paths = node.relation().location().rootPaths()
        strs = " ".join(paths.apply(i).toString() for i in range(paths.length()))
    except Exception:
        return set()
    found = set()
    for m in _TABLE_RE.finditer(strs):
        if m.group(1) in SF_GROWN_TABLES:
            found.add(m.group(1))
    return found


def _unbounded_sf_tables(node) -> set:
    """SF-grown tables reachable from ``node`` without crossing a
    cardinality-bounding node (global aggregate or plan-level limit)."""
    name = node.getClass().getSimpleName()
    if name in _LIMIT_NODES:
        return set()
    if name == "Aggregate" and node.groupingExpressions().isEmpty():
        return set()  # global aggregate → exactly one row
    if (
        name == "Filter"
        and _is_bound_filter(node.condition().toString())
        and _filter_sits_on_leaf(node)
    ):
        return set()  # literal upper bound directly over a leaf scan
    kids = _children(node)
    if not kids:
        return _leaf_tables(node)
    out: set = set()
    for child in kids:
        out |= _unbounded_sf_tables(child)
    return out


def broadcast_policy_violations(df: DataFrame) -> list[str]:
    """Every explicit broadcast hint in ``df``'s analyzed plan whose
    build side is unbounded-SF-grown, as human-readable descriptions.
    Empty list = plan complies with the broadcast policy."""
    violations: list[str] = []

    def visit(node) -> None:
        if node.getClass().getSimpleName() == "ResolvedHint":
            strategy = node.hints().toString()
            if "broadcast" in strategy.lower():
                tables = _unbounded_sf_tables(node)
                if tables:
                    violations.append(
                        "broadcast hint over unbounded SF-grown scan(s) "
                        f"{sorted(tables)} — drop the hint (let AQE "
                        "decide) or declare the structural bound with "
                        "a literal-bound filter / .limit(bound)"
                    )
                    return  # children of a flagged hint: same finding
        # hints can live inside subquery EXPRESSIONS (scalar subqueries,
        # IN/EXISTS plans) — children() alone never reaches them
        try:
            subs = node.subqueries()
            for i in range(subs.length()):
                visit(subs.apply(i))
        except Exception:
            pass
        for child in _children(node):
            visit(child)

    visit(df._jdf.queryExecution().analyzed())
    return violations


#: physical nodes that cap the row count of everything above them.
_PHYS_LIMIT_NODES = (
    "GlobalLimitExec",
    "LocalLimitExec",
    "TakeOrderedAndProjectExec",
    "CollectLimitExec",
)
_PHYS_AGG_NODES = ("HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec")

#: physical counterparts of _NARROW_CHAIN_NODES: row-wise, cardinality-
#: preserving-or-shrinking, single-child shapes that may sit between a
#: bound FilterExec and the leaf scan it bounds. (The pre-AQE sparkPlan
#: carries no Exchange/WholeStageCodegen wrappers.) Anything unknown
#: voids the bound — the recursion then relies on the scan's own pushed
#: dataFilters, the common case.
_PHYS_NARROW_CHAIN_NODES = (
    "ProjectExec",
    "FilterExec",
    "SortExec",
    "CoalesceExec",
    "ColumnarToRowExec",
)


def _phys_leaf_tables(node) -> set:
    """SF-grown tables scanned by a physical leaf, unless the scan
    itself carries a pushed literal-bound data filter (the bound filter
    of the logical walk usually pushes INTO the FileSourceScan by the
    time the physical plan exists)."""
    try:
        filters = node.dataFilters()
        for i in range(filters.length()):
            if _is_bound_filter(filters.apply(i).toString()):
                return set()
    except Exception:
        pass
    return _leaf_tables(node)


def _phys_unbounded_sf_tables(node) -> set:
    name = node.getClass().getSimpleName()
    if name in _PHYS_LIMIT_NODES:
        return set()
    if name in _PHYS_AGG_NODES and node.groupingExpressions().isEmpty():
        return set()  # global (partial or final) aggregate → one row
    if (
        name == "FilterExec"
        and _is_bound_filter(node.condition().toString())
        and _filter_sits_on_leaf(node, _PHYS_NARROW_CHAIN_NODES)
    ):
        # same sits-on-leaf discipline as the logical walk (ADVICE r10):
        # a bound-looking FilterExec ABOVE a join/aggregate bounds an
        # attribute's range, not the subtree's row count. The common
        # pushed-down case is already honored via _phys_leaf_tables'
        # dataFilters; this branch only covers a residual FilterExec
        # sitting in a narrow chain directly over its scan.
        return set()
    kids = _children(node)
    if not kids:
        return _phys_leaf_tables(node)
    out: set = set()
    for child in kids:
        out |= _phys_unbounded_sf_tables(child)
    return out


def bnlj_policy_violations(df: DataFrame) -> list[str]:
    """Every ``BroadcastNestedLoopJoin`` in ``df``'s physical plan whose
    BUILD side is unbounded-SF-grown. Complements
    :func:`broadcast_policy_violations`: the logical walk only sees
    explicit hints, but Spark FORCES a BNLJ for any non-equi join it
    cannot plan otherwise — and AQE cannot demote a BNLJ whose build
    side turns out huge at runtime, so an unbounded build is an
    executor OOM at scale regardless of hints (r9 verdict task 4).
    Walks the pre-AQE ``sparkPlan`` (deterministic, never executes)."""
    violations: list[str] = []

    def visit(node) -> None:
        if node.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec":
            side = node.buildSide().toString()
            kids = _children(node)
            build = kids[0] if side == "BuildLeft" else kids[1]
            tables = _phys_unbounded_sf_tables(build)
            if tables:
                violations.append(
                    f"BroadcastNestedLoopJoin ({side}) builds from "
                    f"unbounded SF-grown scan(s) {sorted(tables)} — "
                    "bound the build side (literal-bound filter, "
                    ".limit, global aggregate) or restructure to an "
                    "equi-join"
                )
        try:
            subs = node.subqueries()
            for i in range(subs.length()):
                visit(subs.apply(i))
        except Exception:
            pass
        for child in _children(node):
            visit(child)

    visit(df._jdf.queryExecution().sparkPlan())
    return violations
