"""Physical-plan audit over every driver query: one row per query with the
plan features that matter at 100 TB — scan count, exchange (shuffle) count,
join strategies, Python-eval nodes, top-k vs global sort — written to
PLANS.md so plan quality is a reviewable artifact, not a claim.

Usage: python tools/plan_audit.py [--sf DIR] [--out PLANS.md]
       python tools/plan_audit.py --sweep DIR1 DIR2 ...   # shape invariance

--sweep audits every query at each listed SF dir and reports queries whose
plan SHAPE (scan/exchange/join/flag fingerprint) changes with data size —
the drift a single-SF audit cannot see (e.g. a stats-threshold flip from
broadcast to shuffle, or an AQE-dependent operator choice leaking into the
static plan). Exit code 1 if any query drifts, so it can gate CI.

A query that raises at any scale is a failure in both modes: it is printed
and the exit code is 1 (its error text is the same at every scale, so it
would otherwise read as "no drift").
"""

from __future__ import annotations

import argparse
import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

JOIN_KINDS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def _n(plan: str, kind: str) -> int:
    # formatted explain prints every node twice (tree + detail); count only
    # the detail headers "(<id>) <Kind>"
    return len(re.findall(rf"^\(\d+\) {kind}\b", plan, re.M))


def audit_plan(plan: str) -> dict:
    return {
        "scans": _n(plan, "Scan parquet") + _n(plan, "Scan csv"),
        "exchanges": _n(plan, "Exchange"),
        "reused": _n(plan, "ReusedExchange") + plan.count("ReusedSubquery"),
        "joins": {k: _n(plan, k) for k in JOIN_KINDS if _n(plan, k)},
        "python_eval": bool(
            re.search(r"BatchEvalPython", plan)
        ),
        "arrow_eval": bool(
            re.search(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)
        ),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "global_sort": bool(re.search(r"Sort \[.*\], true", plan)),
        "aqe": "AdaptiveSparkPlan" in plan,
    }


def _session():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("mdi-plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        # AQE OFF for the audit: with AQE, exchange reuse and broadcast
        # conversion happen at stage materialization and are invisible in
        # explain output; without it, the static ReuseExchange rule fires
        # and shared subtrees show up as ReusedExchange nodes.
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        # sf0.1 audits build real broadcasts (q152's rank table); the 1g
        # default driver heap OOMs mid-sweep and masquerades as drift
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _audit_one(spark, fn, sf: str) -> dict:
    df = fn(spark, sf)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return audit_plan(buf.getvalue())


def _fingerprint(a: dict) -> tuple:
    # the shape facets that must not depend on data volume; `reused` is
    # excluded (subtree reuse can legitimately appear once a side is big
    # enough to be planned as a real exchange)
    return (
        a["scans"],
        a["exchanges"],
        tuple(sorted(a["joins"].items())),
        a["python_eval"],
        a["arrow_eval"],
        a["take_ordered"],
        a["global_sort"],
    )


# Documented benign drift: the static planner flips broadcast -> sort-merge
# as the build side outgrows autoBroadcastJoinThreshold with SF. That is the
# direction that SHOULD happen with size (SCALING.md r7 sweep section);
# anything else failing here is a real shape bug.
KNOWN_DRIFT = {"q207_sorted_neighborhood", "q212_mutual_best_match"}


def sweep(
    sfs: list[str],
    json_out: str | None = None,
    full_lineage: bool = False,
) -> int:
    import __spark_entry__ as entrymod

    spark = _session()
    if full_lineage:
        # r12 verdict item 7: the default sweep fingerprints the
        # POST-checkpoint plan — a regression ABOVE a materialization
        # point is invisible (the subtree is an opaque RDD-scan leaf).
        # The audit-only 'off' mode disables every materialize_once /
        # checkpoint_round truncation so the fingerprint covers the full
        # pre-checkpoint lineage. Never used outside audits.
        spark.conf.set("spark.mdi.materialize.mode", "off")
    drift, errors = [], []
    for name, fn in entrymod.queries().items():
        fps = {}
        for sf in sfs:
            try:
                fps[sf] = _fingerprint(_audit_one(spark, fn, sf))
            except Exception as exc:  # noqa: BLE001
                fps[sf] = ("ERROR", str(exc)[:60])
        if any(fp[0] == "ERROR" for fp in fps.values()):
            errors.append(name)
            tag = "ERROR"
        elif len(set(fps.values())) > 1:
            drift.append((name, fps))
            tag = "DRIFT(known-benign)" if name in KNOWN_DRIFT else "DRIFT"
        else:
            continue
        print(f"{tag} {name}:")
        for sf, fp in fps.items():
            print(f"    {sf}: {fp}")
    unexplained = [name for name, _ in drift if name not in KNOWN_DRIFT]
    print(f"sweep over {len(sfs)} scales: {len(drift)} queries with "
          f"plan-shape drift ({len(unexplained)} unexplained), "
          f"{len(errors)} failing")
    if json_out:
        import json

        Path(json_out).write_text(json.dumps({
            "scales": sfs,
            "n_queries": len(entrymod.queries()),
            "drift": {n: {sf: list(map(str, fp)) for sf, fp in fps.items()}
                      for n, fps in drift},
            "unexplained": unexplained,
            "errors": errors,
        }, indent=1) + "\n")
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if unexplained or errors else 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=str(Path(__file__).resolve().parents[1] / "PLANS.md"))
    ap.add_argument("--sweep", nargs="+", metavar="DIR",
                    help="audit at each DIR and fail on plan-shape drift")
    ap.add_argument("--json", default=None,
                    help="(sweep mode) write the drift artifact to this path")
    ap.add_argument("--full-lineage", action="store_true",
                    help="(sweep mode) disable checkpoint truncation "
                    "(spark.mdi.materialize.mode=off) so fingerprints cover "
                    "pre-checkpoint subtrees")
    args = ap.parse_args()

    if args.sweep:
        raise SystemExit(
            sweep(args.sweep, json_out=args.json, full_lineage=args.full_lineage)
        )

    import __spark_entry__ as entrymod

    spark = _session()

    rows, errors = [], []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            a = audit_plan(buf.getvalue())
            joins = ", ".join(f"{k}×{v}" if v > 1 else k for k, v in a["joins"].items()) or "—"
            flags = []
            if a["take_ordered"]:
                flags.append("top-k")
            if a["global_sort"]:
                flags.append("GLOBAL-SORT")
            if a["python_eval"]:
                flags.append("PY-EVAL(!)")
            if a["arrow_eval"]:
                flags.append("arrow-batch")
            rows.append(
                f"| {name} | {a['scans']} | {a['exchanges']} | {a['reused']} | {joins} | {', '.join(flags) or '—'} |"
            )
        except Exception as exc:  # noqa: BLE001 - audit keeps going, reports the break
            rows.append(f"| {name} | — | — | — | ERROR: {str(exc)[:60]} | — |")
            errors.append(name)
            print(f"ERROR {name}: {str(exc)[:200]}")

    out = Path(args.out)
    out.write_text(
        "# PLANS — physical-plan audit of every driver query\n\n"
        f"Generated by `python tools/plan_audit.py --sf {args.sf}`. Columns:\n"
        "parquet scans in the final plan, shuffle exchanges, join strategies,\n"
        "notable nodes. `PY-EVAL(!)` (row-at-a-time Python) should NEVER appear;\n"
        "`arrow-batch` marks the deliberate Arrow-batched multimodal kernels;\n"
        "`GLOBAL-SORT` is expected only where a total order is the query's\n"
        "contract (explicit ORDER BY results). A BroadcastNestedLoopJoin is\n"
        "benign ONLY when the build side is a broadcast 1-row aggregate or a\n"
        "bounded top-N (q08-style two-pass stats, q60's vocab window) — those\n"
        "are the documented cases below; any other occurrence is a bug.\n\n"
        "Audited with AQE OFF so the static ReuseExchange rule is visible:\n"
        "`reused` counts shared subtrees the engine computes ONCE (self-joins,\n"
        "repeated dims); under AQE the same reuse happens at stage\n"
        "materialization, plus runtime broadcast conversion of small sides\n"
        "(SortMergeJoin rows below may execute as broadcast joins at test\n"
        "scale and as shuffled joins at 100 TB — that is AQE working).\n\n"
        "| query | scans | exchanges | reused | joins | notes |\n"
        "|---|---|---|---|---|---|\n" + "\n".join(rows) + "\n"
    )
    print(f"wrote {out} ({len(rows)} queries, {len(errors)} failing)")
    spark.stop()
    if errors:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
