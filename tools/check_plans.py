"""Scale-discipline plan audit over the ENTIRE query registry.

Builds every ``__spark_entry__.queries()`` DataFrame at a small SF and
scans its physical plan for the node types that do not survive 100 TB:

* ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — all-pairs joins
  (quadratic shuffle or unbounded nested loop);
* ``BatchEvalPython`` — row-at-a-time Python UDF in the plan (the
  Arrow-batched ``MapInPandas``/``ArrowEvalPython`` paths are allowed);
* a re-derived input — more than ``SCAN_MAX`` ``FileScan`` nodes of
  one table, counted per table root path from the plan tree (plan
  strings truncate long locations).  A relation that several branches
  consume belongs behind one checkpoint, not re-scanned per branch.

A tiny allowlist names the DELIBERATE exceptions — 1-row broadcast
stats build sides where the nested-loop "join" is a constant attach —
each with the justification inline, so an unlisted occurrence anywhere
in the registry fails the sweep loudly.  Allowlisting is COUNTED
(round 7): each entry permits at most ``ALLOW_MAX`` occurrences of
that node (default 1), so a second, illegitimate CartesianProduct or
BNLJ sneaking into an already-allowlisted query's plan still fails.
Individual pytests already pin several plans; this tool is the
registry-wide regression gate.

Usage: ``python tools/check_plans.py [query ...] [--sf-dir DIR]
[--json OUT]`` (default: all queries at /root/testdata/sf0.001).  The
JSON output gives each query's largest per-table scan count as
``max_scans``.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin",
             "BatchEvalPython")

#: most FileScan nodes of one table a plan may hold before the table
#: counts as re-derived (reported as the pseudo-node "FileScan")
SCAN_MAX = 4

# query -> {node: why it is deliberately fine}
ALLOW: dict[str, dict[str, str]] = {
    "ret_bm25_topk": {
        "BroadcastNestedLoopJoin":
            "1-row corpus-stats (N, avgdl) cross join — the build side "
            "is a single aggregate row broadcast to every task",
        "CartesianProduct":
            "same 1-row stats attach when the planner picks the "
            "non-broadcast form at tiny SF",
    },
    "text_lm_nll": {
        "BroadcastNestedLoopJoin":
            "1-row vocab/total-count stats attach (CCNet smoothing "
            "denominator), broadcast constant",
    },
    "text_lm_nll_xlm": {
        "BroadcastNestedLoopJoin": "same 1-row LM stats attach",
    },
    "text_lm2_nll": {
        "BroadcastNestedLoopJoin": "same 1-row LM stats attach",
    },
    "text_lm3_nll": {
        "BroadcastNestedLoopJoin": "same 1-row LM stats attach",
    },
    "text_lm5_nll": {
        "BroadcastNestedLoopJoin": "same 1-row LM stats attach",
    },
    "text_ccnet_buckets": {
        "BroadcastNestedLoopJoin": "same 1-row LM stats attach",
    },
    "sample_mixture": {
        "BroadcastNestedLoopJoin":
            "1-row corpus-total attach onto the STRATUM-sized stats "
            "table (functions/sampling.py mixture rates) — both sides "
            "metadata-scale; the corpus itself joins the broadcast "
            "rates by stratum key",
    },
    "dsir_en_weights": {
        "BroadcastNestedLoopJoin":
            "1-row rmap attach: the bucket→log-ratio map "
            "(functions/dsir.py, one map row folded from the "
            "`buckets`-row ratio table) broadcast onto the documents",
    },
    "sketch_distinct_tokens": {
        "BroadcastNestedLoopJoin":
            "1-row exact-vs-sketch witness comparison (two single-row "
            "aggregates joined)",
        "CartesianProduct": "same 1-row × 1-row witness join",
    },
    "sketch_token_quantiles": {
        "BroadcastNestedLoopJoin": "same 1-row sketch-witness join",
        "CartesianProduct": "same 1-row × 1-row witness join",
    },
}

#: (query, node) -> max tree occurrences permitted; default 1 for any
#: allowlisted pair (for "FileScan", the most scans of one table).
#: Raise ONLY with an inline justification.
ALLOW_MAX: dict[tuple[str, str], int] = {
    # lm_nll_scores attaches the SAME 1-row (total, v) stats frame
    # twice by design: once building the logp table and once for the
    # OOV add-1 fallback on unmatched tokens (functions/lm.py) — two
    # constant attaches, not two nested-loop joins over data
    ("text_lm_nll", "BroadcastNestedLoopJoin"): 2,
    ("text_lm_nll_xlm", "BroadcastNestedLoopJoin"): 2,
}


def file_scans(df) -> dict[str, int]:
    """FileScan node count per table root path in ``df``'s physical
    plan, walked as a tree.  An adaptive plan is walked in its initial
    form (exchanges inserted, none yet reused); subquery plans count
    too."""
    counts: dict[str, int] = {}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.initialPlan())
            continue
        if cls == "InMemoryTableScanExec":
            continue                      # a cache is materialized once
        if cls == "FileSourceScanExec":
            roots = node.relation().location().rootPaths()
            for i in range(roots.size()):
                root = roots.apply(i).toString()
                counts[root] = counts.get(root, 0) + 1
        for seq in (node.children(), node.innerChildren()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
    return counts


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    out_json = None
    names = []
    i = 0
    while i < len(argv):
        if argv[i] == "--sf-dir":
            sf_dir = argv[i + 1]
            i += 2
        elif argv[i] == "--json":
            out_json = argv[i + 1]
            i += 2
        else:
            names.append(argv[i])
            i += 1

    import __spark_entry__ as entry
    from mc2skos_spark.plans.session import build_session

    queries = entry.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit("unknown queries: %s" % unknown)
    todo = names or sorted(queries)

    spark = build_session(app_name="mc2skos-plancheck",
                          master="local[8]", shuffle_partitions=8)
    results: dict[str, dict] = {}
    failed = 0
    for name in todo:
        try:
            df = queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            scans = file_scans(df)
        except Exception as exc:          # noqa: BLE001 — report, not die
            results[name] = {"ok": False, "error": repr(exc)[:300]}
            failed += 1
            print("%-30s ERROR %s" % (name, repr(exc)[:120]))
            continue
        counts = {n: plan.count(n) for n in FORBIDDEN if n in plan}
        max_scans = max(scans.values(), default=0)
        if max_scans > SCAN_MAX:
            counts["FileScan"] = max_scans
        allow = ALLOW.get(name, {})
        allowed = {n for n, c in counts.items()
                   if n in allow and c <= ALLOW_MAX.get((name, n), 1)}
        bad = ["%s x%d" % (n, c) for n, c in counts.items()
               if n not in allowed]
        results[name] = {"ok": not bad, "forbidden": bad,
                         "allowed": sorted(allowed),
                         "max_scans": max_scans}
        if bad:
            failed += 1
            print("%-30s FORBIDDEN %s" % (name, bad))
        else:
            print("%-30s ok%s" % (
                name, " (allowed: %s)" % ",".join(sorted(allowed))
                if allowed else ""))
    spark.stop()

    if out_json:
        with open(out_json, "w") as fp:
            json.dump({"sf_dir": sf_dir, "forbidden": FORBIDDEN,
                       "scan_max": SCAN_MAX, "results": results},
                      fp, indent=1, sort_keys=True)
        print("wrote %s" % out_json)
    if failed:
        raise SystemExit("%d queries with scale-killer plan nodes or "
                         "re-derived inputs" % failed)
    print("ALL PLANS CLEAN (%d queries)" % len(todo))


if __name__ == "__main__":
    main()
