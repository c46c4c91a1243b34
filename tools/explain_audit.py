"""Physical-plan audit: .explain() every driver query and extract the
scale-relevant markers into PLANS.md.

A query's markers cover its final frame AND every SQL execution it ran
while building that frame (checkpoint jobs, driver-side collects), read
from the SQL status store: operators join inside checkpoint jobs, which
the final frame's plan only shows as a scan of the checkpoint. The
``execs`` column counts those executions.

The 100-TB questions, made greppable per query:
- does the scan prune columns (ReadSchema) and push filters
  (PushedFilters)?
- how many shuffles (Exchange) does the plan pay, and are joins
  broadcast where a side is small (BroadcastHashJoin vs SortMergeJoin)?
- how much of the plan stays inside WholeStageCodegen (JVM, vectorized)
  vs python workers (ArrowEvalPython / MapInPandas / FlatMap(Co)GroupsIn*)?
- is AQE live (AdaptiveSparkPlan) so skew/coalesce re-plans at runtime?

Usage: python tools/explain_audit.py [--sf DIR] [--only name,...]
Writes PLANS.md at the repo root and prints the summary table. A full
run rewrites the file; ``--only`` replaces the named queries' rows and
review notes and keeps every other line. Unknown ``--only`` names are
rejected (exit 2) before any Spark session starts.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: SMJ-without-broadcast cases that are the intended 100-TB plan, with
#: the reason (the audit session disables AQE to read static plans, so
#: joins AQE would convert at runtime show as SMJ here).
SMJ_DELIBERATE = {
    "e2e_caption_dedup": (
        "past SMALL_GRAPH_EDGES the clusters join takes the star loop's "
        "output in assign_clusters' AQE-decided mode (components.py "
        "docstring): a high-dup-fraction corpus's assignment table is "
        "NOT broadcastable, so only the driver-sized union-find result "
        "is broadcast-hinted."),
    "lsh_knn": (
        "the not-found slot fill (slots left-join ranked) joins two "
        "n*k-row frames — BOTH n-scale at the target SF, so neither "
        "side may be broadcast-hinted; AQE converts at runtime when the "
        "materialized ranked side is small (it is at bench scale)."),
    "bin_interop_lsh_knn": (
        "same slot-fill join as lsh_knn (shared lsh_kneighbors plan)."),
}

MARKERS = {
    "exchanges": r"\bExchange\b",
    # codegen stages print as "*(N) Operator" — count distinct stage ids.
    # (AQE is disabled for the audit session: AdaptiveSparkPlan's lazy
    # string hides codegen annotation until execution.)
    "wholestage": r"\*\(\d+\)",
    "bcast_joins": r"BroadcastHashJoin|BroadcastNestedLoopJoin",
    "smj_joins": r"SortMergeJoin",
    "python": (r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
               r"|FlatMapCoGroupsInPandas|BatchEvalPython"),
}


NO_NOTES = "- no sort-merge-join-without-broadcast cases found."
#: a PLANS.md table row or review note, and the query it is about
_ABOUT = re.compile(r"\| (\w+) \| |- `(\w+)`:")


def _about(line: str) -> str | None:
    m = _ABOUT.match(line)
    return m and (m.group(1) or m.group(2))


def merge_plans(old: str, new: str, names: list[str]) -> str:
    """PLANS.md text ``old`` with the table rows and review notes of the
    queries ``names`` taken from ``new``, the text an audit of those
    queries alone renders; every other line of ``old`` stays. A row or
    note new to the file goes after the last of its kind."""
    fresh = {(line[0], _about(line)): line for line in new.splitlines()
             if _about(line) in names}
    lines = []
    for line in old.splitlines():
        if _about(line) in names:
            # a stale note with no fresh one leaves the placeholder
            line = fresh.pop((line[0], _about(line)),
                             NO_NOTES if line[0] == "-" else None)
        if line is not None:
            lines.append(line)
    for (kind, _), line in fresh.items():
        last = max(i for i, x in enumerate(lines) if x.startswith(kind))
        lines.insert(last + 1, line)
    noted = any(x.startswith("- `") for x in lines)
    first = lines.index(NO_NOTES) if NO_NOTES in lines else -1
    lines = [x for i, x in enumerate(lines)
             if x != NO_NOTES or (not noted and i == first)]
    return "\n".join(lines) + "\n"


def _markers(plan: str) -> dict:
    out = {k: len(re.findall(p, plan)) for k, p in MARKERS.items()}
    out["wholestage"] = len(set(re.findall(r"\*\((\d+)\)", plan)))
    return out


def _executions(spark) -> list:
    """Every SQL execution in the status store, once the listener bus has
    delivered the events of those that ran."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def audit_query(spark, build) -> dict:
    """Markers summed over the frame ``build()`` returns and over every
    SQL execution ``build`` ran, whose plans the status store records in
    the same (simple) form as ``executedPlan().toString()``."""
    mode = "spark.sql.ui.explainMode"
    prev = spark.conf.get(mode)
    spark.conf.set(mode, "simple")
    try:
        seen = {e.executionId() for e in _executions(spark)}
        df = build()
        ran = [e.physicalPlanDescription() for e in _executions(spark)
               if e.executionId() not in seen]
    finally:
        spark.conf.set(mode, prev)
    plans = [df._jdf.queryExecution().executedPlan().toString(), *ran]
    out = {k: sum(_markers(p)[k] for p in plans) for k in MARKERS}
    text = "\n".join(plans)
    out["read_schema"] = sorted(set(re.findall(r"ReadSchema: struct<([^>]*)>", text)))
    out["pushed"] = sorted(set(re.findall(r"PushedFilters: \[([^\]]*)\]", text)))
    out["execs"] = len(ran)
    out["plan"] = plans[0]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args(argv)

    import __spark_entry__ as E
    from distributed_gpu_lsh_using_sycl_spark.sources.tables import get_spark

    qs = E.queries()
    names = args.only.split(",") if args.only else list(qs)
    # validate every name before a session starts, so a typo never
    # leaves a half-written audit behind
    unknown = [n for n in names if n not in qs]
    if unknown:
        ap.error("unknown query name(s): " + ", ".join(unknown))

    # AQE off ONLY for the audit: AdaptiveSparkPlan prints its pre-
    # execution plan without codegen annotation, which would read as
    # "0 codegen spans" everywhere. Production sessions keep AQE on.
    spark = get_spark("plan-audit", parallelism=args.cores,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    rows, notes = [], []
    try:
        for name in names:
            try:
                a = audit_query(spark, lambda: qs[name](spark, args.sf))
            except Exception as exc:  # noqa: BLE001 — audit must cover the rest
                rows.append((name, f"ERR {type(exc).__name__}",
                             "", "", "", "", "", ""))
                continue
            rows.append((name, a["execs"], a["exchanges"], a["wholestage"],
                         a["bcast_joins"], a["smj_joins"], a["python"],
                         "; ".join(a["read_schema"])[:80]))
            if a["smj_joins"] and not a["bcast_joins"]:
                if name in SMJ_DELIBERATE:
                    notes.append(f"- `{name}`: {a['smj_joins']} sort-merge "
                                 f"join(s) in the static plan — deliberate: "
                                 f"{SMJ_DELIBERATE[name]}")
                else:
                    notes.append(f"- `{name}`: {a['smj_joins']} sort-merge "
                                 "join(s), no broadcast — check whether a "
                                 "side is small enough to broadcast at "
                                 "target SF.")
    finally:
        spark.stop()

    lines = [
        "# PLANS — physical-plan audit of every driver query",
        "",
        f"Generated by `tools/explain_audit.py` at {args.sf}, "
        f"local[{args.cores}]. Columns: SQL executions the query ran "
        "while building its frame (checkpoint jobs, collects), then, "
        "summed over those executions and the final frame: shuffle "
        "Exchanges, WholeStageCodegen spans, broadcast joins, sort-merge "
        "joins, python (Arrow UDF) operators, pruned scan schemas.",
        "",
        "| query | execs | exch | wscg | bcast | smj | py | ReadSchema (pruned scan) |",
        "|---|---|---|---|---|---|---|---|",
    ] + [
        "| " + " | ".join(str(c) for c in r) + " |" for r in rows
    ] + [
        "",
        "## Review notes",
        "",
        *(notes or [NO_NOTES]),
        "",
        "Reading guide: `py > 0` is expected exactly where the operator is "
        "a vectorized Arrow kernel by design (signatures, decode, "
        "embedding folds) and nowhere else; `exch` counts the shuffles a "
        "1000-executor run will pay — each one is deliberate (documented "
        "in the operator's docstring) or AQE-coalesced.",
    ]
    text = "\n".join(lines) + "\n"
    path = os.path.join(REPO, "PLANS.md")
    if args.only and os.path.exists(path):
        with open(path) as f:
            text = merge_plans(f.read(), text, names)
    with open(path, "w") as f:
        f.write(text)
    print("\n".join(lines[:40]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
