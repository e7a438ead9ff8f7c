"""Isolated and A/B timing of chosen queries.

For each named query: capture ``.explain("formatted")`` to
``plans/<round>/<query>_<tag>.txt`` and time it ISOLATED: one warm-up
invocation, then min of N timed ``count()`` runs with the cache released
before each, plus an optional noop-sink timing (computes every column, so
column-pruning tricks can't hide work). The session, input warm-up, cache
release and GC drain are ``bench.py``'s own functions, so an isolated
number is taken in the same setting as the bench's in-batch one. Prints one
JSON line per query so runs can be diffed.

``--baseline-ref <git-ref>`` is the A/B mode: the ref is checked out into a
throwaway worktree and the SAME query list is measured there and in this
checkout back-to-back (same minutes, same host state), then per-query
new/old ratios are printed. Host speed drifts 20-50% within hours, so
isolated numbers from different sessions must never be compared directly —
always ship a ratio against same-minute controls.

Usage:
    python tools/opt_measure.py --tag before q283_hits_scores q152_pagerank
    python tools/opt_measure.py --tag after --runs 3 q283_hits_scores
    python tools/opt_measure.py --baseline-ref 384d265 q283_hits_scores q28_control
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def _run_ab(args) -> None:
    """A/B a query list: baseline-ref worktree first, HEAD second, both in
    fresh subprocesses (own Spark session each), minutes apart on the same
    host state; print per-query new/old ratios. Evidence discipline from
    OPTIMIZATION_r12.md §5 folded into the tool (r12 verdict item 6)."""
    import shutil
    import subprocess
    import tempfile

    ref = args.baseline_ref
    names = args.queries
    if not names:
        raise SystemExit("--baseline-ref needs an explicit query list")
    wt = Path(tempfile.mkdtemp(prefix="mdi_ab_")) / "base"
    subprocess.run(
        ["git", "worktree", "add", "--detach", str(wt), ref],
        cwd=REPO,
        check=True,
        capture_output=True,
    )
    try:
        results = {}
        for label, cwd in (("old", wt), ("new", REPO)):
            out = wt.parent / f"{label}.json"
            script = cwd / "tools" / "opt_measure.py"
            if not script.exists():
                raise SystemExit(
                    f"{ref} predates tools/opt_measure.py; cannot A/B"
                )
            cmd = [
                sys.executable,
                str(script),
                "--tag",
                f"ab_{label}",
                "--no-plan",
                "--runs",
                str(args.runs),
                "--sf",
                args.sf,
                "--cpus",
                args.cpus,
                "--out",
                str(out),
                *names,
            ]
            subprocess.run(cmd, cwd=cwd, check=True)
            results[label] = json.loads(out.read_text())
        rows = {}
        for n in names:
            old = results["old"][n]["count_best"]
            new = results["new"][n]["count_best"]
            rows[n] = {
                "old": old,
                "new": new,
                "ratio": round(new / old, 3) if old else None,
            }
            print(json.dumps({"query": n, **rows[n]}), flush=True)
        if args.out:
            Path(args.out).write_text(
                json.dumps({"baseline_ref": ref, "ab": rows}, indent=1) + "\n"
            )
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", str(wt)],
            cwd=REPO,
            check=False,
            capture_output=True,
        )
        shutil.rmtree(wt.parent, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--tag", default="probe")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--noop", action="store_true", help="also time via noop sink")
    ap.add_argument("--out", default=None, help="JSON results file")
    ap.add_argument("--plans-dir", default="plans/r13")
    ap.add_argument(
        "--baseline-ref",
        default=None,
        help="git ref to A/B against: measure the same queries in a "
        "worktree at that ref, then at HEAD, back-to-back; print ratios",
    )
    args = ap.parse_args()

    if args.baseline_ref:
        _run_ab(args)
        return

    import __spark_entry__ as entrymod
    from bench import build_session, gc_drain, release_cached_blocks, warm_inputs

    spark = build_session(args.cpus)

    qs = entrymod.queries()
    names = args.queries or list(qs)
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    warm_inputs(spark, args.sf)

    plans_dir = REPO / args.plans_dir
    plans_dir.mkdir(parents=True, exist_ok=True)

    results: dict[str, dict] = {}
    for name in names:
        release_cached_blocks(spark)
        spark.sparkContext.setJobDescription(f"opt-measure: {name}")
        df = qs[name](spark, args.sf)
        if not args.no_plan:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            (plans_dir / f"{name}_{args.tag}.txt").write_text(buf.getvalue())
        # warm-up invocation (absorbs per-shape codegen/JIT, scratch builds)
        t0 = time.time()
        qs[name](spark, args.sf).count()
        warm = time.time() - t0
        gc_drain(spark)
        best = float("inf")
        for _ in range(args.runs):
            # release BEFORE every run, not just between queries: the
            # checkpoint-heavy graph family otherwise accumulates persisted
            # RDD blocks across its own repeated runs and the later runs
            # read slower than the warm-up (observed q283: warm 9.1s,
            # "best" 13.3s) — the bench's own between-query release makes
            # each in-batch timing start from a clean storage pool, so the
            # isolated harness must too.
            release_cached_blocks(spark)
            t0 = time.time()
            qs[name](spark, args.sf).count()
            best = min(best, time.time() - t0)
        rec = {"count_best": round(best, 3), "warm": round(warm, 3)}
        if args.noop:
            tnoop = float("inf")
            for _ in range(args.runs):
                t0 = time.time()
                qs[name](spark, args.sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                tnoop = min(tnoop, time.time() - t0)
            rec["noop_best"] = round(tnoop, 3)
        results[name] = rec
        print(json.dumps({"query": name, **rec}), flush=True)
        spark.sparkContext.setJobDescription(None)

    if args.out:
        Path(args.out).write_text(json.dumps(results, indent=1) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
