"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE COMPACT JSON line (kept well under 1 kB so the driver's tail
capture can parse it — round 3's full per-query dict overflowed the 2 kB
capture and shipped `parsed: null`):
    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {<10 slowest>: sec}, "n": <count>, "sf": "<dir>"}

Full per-query timings are written to BENCH_DETAIL.json next to this file
for round-over-round diffing.

Each query is executed to completion (count() over the result — forces the
full plan without driver-side materialization of every row).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__  # noqa: E402  (found through the path entry above)

# No-silent-caps ledger: every registered query is timed unless it is
# named here with the reason it is not. This is the one place that
# records bench status; HEADLINE below is derived from it.
_VARIANT = "light variant of a benched family (same operators, smaller plan)"
_STUB = "multimodal byte-math stub; timing would measure the fake codec, not Spark"
EXCLUDED = {
    "q03_regex_filter": _VARIANT + " — q02/q04 cover the rule compiler",
    "q05_error_report": _VARIANT + " — q13 covers the error sink shape",
    "q07_unique_daily": _VARIANT + " — q06/q54 cover dedup rules",
    "q09_referential_anti_join": _VARIANT + " — q10 covers broadcast anti/semi",
    "q12_top_k": _VARIANT + " — q43 covers TakeOrderedAndProject",
    "q13_preview_truncate": "limit-5 preview; sub-ms by construction",
    "q15_json_extract": _VARIANT + " — q101/q104 cover JSON paths",
    "q17_dedup_exact_keys": _VARIANT + " — q16 covers exact dedup",
    "q19_lang_stats": _VARIANT + " — q21/q59 cover text scans",
    "q21_language_id": _VARIANT + " — q255 benches the same classifier + confusion",
    "q23_multimodal_join": _STUB,
    "q29_lsh_ann": _VARIANT + " — q52/q121/q140 bench the LSH ANN path",
    "q30_multimodal_decode": _STUB,
    "q33_ivf_ann": _VARIANT + " — q121/q140 bench the bucketed ANN joins",
    "q34_embedding_near_dups": "gated quadratic oracle baseline (allow_quadratic)"
    "; deliberately never on the production path",
    "q38_set_ops": _VARIANT + " — q50 benches INTERSECT/EXCEPT ALL",
    "q39_cube": _VARIANT + " — q64 benches Expand+agg",
    "q40_pivot": _VARIANT + " — pinned-values single scan, sub-second",
    "q41_percentiles": _VARIANT + " — q143/q206 bench quantiles",
    "q42_salted_join": _VARIANT + " — correctness twin of the plain join",
    "q44_two_stage_agg": _VARIANT + " — q11/q45 cover partial aggs",
    "q45_distinct_agg": _VARIANT + " — q11 covers group-aggs",
    "q49_frame_sample": _STUB,
    "q51_session_window": _VARIANT + " — q25 benches sessionization",
    "q58_train_split": _VARIANT + " — q57/q193 bench split assignment",
    "q60_vocab": _VARIANT + " — q113 benches the top-N vocab window",
    "q63_normalize_text": _VARIANT + " — q112/q114 bench text rewrites",
    "q66_correlated_subquery": _VARIANT + " — q85/q95 bench decorrelation",
    "q67_unpivot": _VARIANT + " — stack() projection, sub-second",
    "q70_shard_pack": _VARIANT + " — q148 benches packing",
    "q73_asof_tolerance": _VARIANT + " — q35 benches the as-of join",
    "q74_hll_distinct": "engine-private sketch, rows-only; q191 benches KMV twin",
    "q86_unigram_logprob": _VARIANT + " — q139/q224 bench LM scoring",
    "q87_ngram_novelty": _VARIANT + " — q69/q161 bench n-gram overlap",
    "q88_label_centroids": _VARIANT + " — q91/q176 bench centroid paths",
    "q116_media_resize": _STUB,
    "q117_media_features": _STUB,
    "q123_csv_scan": "pinned-schema CSV scan; I/O-bound read, benched via pytest",
    "q319_orc_scan": "pinned-schema ORC scan of a 9-row golden fixture; same "
    "class as q123_csv_scan — timing measures fixture-read overhead, not "
    "plan cost (r8 advisor note)",
    "q327_schema_drift": "driver-side metadata pre-flight over a 9-row "
    "fixture header; timing would measure Spark session overhead, not a plan",
    "q146_bpe_merges": "iterative driver-round loop (documented residual); "
    "wall time is fixed per-round latency, pinned by pytest not bench",
    "q155_bpe_encode": "same driver-round loop family as q146",
    "q183_phonetic_match": _VARIANT + " — q97/q207 bench blocking joins",
    "q302_streaming_bloom_state": "real foreachBatch streaming run; wall "
    "time is micro-batch startup latency, not plan cost — the bloom "
    "arithmetic it accumulates is benched via q203 and the stream==batch "
    "merge is pinned by tests/test_streaming.py",
    "q320_streaming_cms_state": "same foreachBatch streaming-run family "
    "as q302 (additive CMS merge); the sketch arithmetic is benched via "
    "q190 and the stream==batch merge is pinned by tests/test_streaming.py",
    "q347_streaming_kmv_state": "foreachBatch streaming run (lands files + "
        "drains a stream); timing measures stream machinery, not plan cost — "
        "same class as q302/q320/q331",
    "q331_streaming_minhash_index": "same foreachBatch streaming-run "
    "family as q302/q320 (append-only index accumulator); the MinHash "
    "pipeline it runs per batch is benched via q27 and stream==batch is "
    "pinned by tests/test_streaming.py",
    "q384_streaming_running_stats": "streaming run (lands files + drains "
    "an applyInPandasWithState stream); timing measures micro-batch + "
    "Python state-worker startup, not plan cost — same class as "
    "q302/q320/q331/q347; the batch aggregate it must equal is benched "
    "via q11/q45 and stream==batch is pinned by the oracle + pytest",
    "q385_streaming_interval_join": "streaming run (lands files + drains "
    "a stream-stream interval join); timing measures stream machinery — "
    "the equivalent batch interval join is benched via q35/q73's as-of "
    "family and stream==batch is pinned by the oracle + pytest",
    "q394_streaming_dedup": "streaming run (lands a doubled copy of events "
    "+ drains a dropDuplicatesWithinWatermark stream); timing measures "
    "stream machinery — the batch dedup it must equal is benched via "
    "q16's exact-dedup family and the dedup state semantics are pinned "
    "by the oracle + tests/test_streaming.py",
    "q396_streaming_session_window": "streaming run (time-range-split "
    "landing + sentinel flush batch through the merging-session-window "
    "state store); timing measures stream machinery — the batch "
    "session_window it must equal is benched via q25/q51's "
    "sessionization family and stream==batch is pinned by the oracle",
    "q399_streaming_outer_interval_join": "streaming run (time-range-"
    "split dual landing + sentinel flush through the LEFT OUTER "
    "stream-stream join state's expiry-driven emission); timing "
    "measures stream machinery — the batch left interval join it must "
    "equal is benched via q35/q73's as-of family and stream==batch is "
    "pinned by the oracle",
    "q401_streaming_chained_stateful": "streaming run (re-delivered + "
    "time-ranged landing through TWO chained state stores: watermarked "
    "dedup feeding a windowed aggregation); timing measures stream "
    "machinery — the batch dedup and window-agg it must equal are "
    "benched via q16's dedup family and q23's windowed counts, and "
    "stream==batch is pinned by the oracle",
    "q405_streaming_cdc_merge": "streaming run (three ordered change "
    "batches MERGEd into a parquet snapshot via foreachBatch + atomic "
    "swap); timing measures micro-batch/rewrite machinery — the "
    "merge_upsert join it applies per batch is benched via q144's "
    "batch MERGE family, and snapshot==set-algebra is pinned by the "
    "oracle",
}

HEADLINE = [q for q in __spark_entry__.queries() if q not in EXCLUDED]


def main() -> None:
    qs = __spark_entry__.queries()
    # a renamed query would otherwise start being timed unannounced,
    # leaving its old exclusion behind
    stale = set(EXCLUDED) - set(qs)
    if stale:
        raise SystemExit(f"bench ledger names unregistered queries: {sorted(stale)}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("mdi-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: JVM/codegen init plus one touch of every input file, so the
    # first timed query isn't charged session init, parquet footer reads,
    # or OS page-cache misses the later queries don't pay either.
    spark.range(10).count()
    from pathlib import Path as _P

    from manufacturing_data_integration_tool_spark.sources.readers import read_table

    for p in sorted(_P(sf_dir).glob("*.parquet")):
        read_table(spark, sf_dir, p.stem).count()  # nanos-safe for events
    # Each query runs twice; the reported time is the min (steady state).
    # Run 1 pays per-query-shape JIT/codegen compilation that a long-lived
    # cluster pays once per application, not per query — reporting it would
    # benchmark the JIT, not the plan.
    def _release_cached_blocks() -> None:
        # r11 verdict item #3: the checkpointed graph family (q152/q283)
        # leaks localCheckpoint blocks into the storage memory of every
        # LATER query — the in-batch crowding that made q152 read 12.8s
        # in-batch vs 6.6s isolated. Drop each query's cached tables and
        # persistent RDD blocks before the next timing so every query
        # starts from the same clean storage pool, in-batch as isolated.
        # py4j-private + local-mode lever, same guard class as the GC
        # drain below (no-op under Spark Connect).
        try:
            spark.catalog.clearCache()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
        except Exception:
            pass

    def _gc_drain() -> None:
        # r12: the r11-verdict release fix closed most of the in-batch vs
        # isolated gap, but heap inheritance remained (r12 pre-fix run:
        # q140 5.45 s in-batch vs 3.37 s isolated on identical plans) —
        # the isolated tail pass already drains GC before timing, so the
        # headline loop now starts every query from the same clean heap.
        # The drain runs OUTSIDE the timed region (between queries), so
        # the methodology — min-of-2 count() per query — is unchanged.
        # LOCAL-MODE-ONLY lever, same guard class as the tail drain.
        try:
            spark.sparkContext._jvm.System.gc()
        except AttributeError:
            pass

    timings: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            best = min(best, time.time() - t0)
        dt = round(best, 3)
        timings[name] = dt
        total += dt
        _release_cached_blocks()
        _gc_drain()

    # Isolated heavy-tail pass (r7 verdict #7, RULE-BASED since r10 per
    # the r9 verdict #2): after the crowded batch, re-time with nothing
    # else in flight (n=3, min) every query that needs adjudication:
    #   (a) fixed members — the checkpoint-heavy graph family plus the
    #       recurring watch list (q207's benign broadcast->SMJ size flip
    #       and the q175-q177 trio) the r8 verdict pinned;
    #   (b) the 5 slowest in-batch queries;
    #   (c) MECHANICAL REGRESSION RULE: every query whose in-batch time
    #       exceeds 2x its previous run's best known time (the prior
    #       BENCH_DETAIL entry, preferring its isolated number when one
    #       exists) and is >= 0.3 s now — sub-0.3 s deltas are pure
    #       fixed-overhead noise per the r9 host-contention adjudication.
    # Everything is recorded alongside the crowded numbers so a
    # round-over-round regression can be adjudicated (crowding vs real)
    # from BENCH_DETAIL alone, with no manual isolated re-run ritual.
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    prev_best: dict[str, float] = {}
    prev_soft: set[str] = set()
    if detail_path.exists():
        try:
            prev = json.loads(detail_path.read_text())
            prev_iso = prev.get("isolated_tail", {})
            prev_best = {
                k: min(v, prev_iso.get(k, v))
                for k, v in prev.get("queries", {}).items()
            }
            prev_soft = set(prev.get("tail_rule", {}).get("soft_flags", []))
        except (ValueError, OSError, AttributeError):
            prev_best = {}
    regressed = sorted(
        n
        for n, t in timings.items()
        if n in prev_best and t >= 0.3 and t > 2.0 * prev_best[n]
    )
    # SUB-THRESHOLD DRIFT TRIPWIRE (r11 verdict item #6): the 2.0x gate
    # alone lets a query step 1.9x per round and compound invisibly
    # (q62 drifted 3.15s -> 3.60s isolated across r10 -> r11 without ever
    # tripping). Any query >1.5x its prev-best in-batch is soft-flagged
    # in BENCH_DETAIL; a query soft-flagged in TWO consecutive rounds is
    # force-adjudicated isolated this round regardless of the 2.0x gate.
    soft_flags = sorted(
        n
        for n, t in timings.items()
        if n in prev_best and t >= 0.3 and t > 1.5 * prev_best[n]
    )
    two_round_drift = sorted(set(soft_flags) & prev_soft)
    tail = set(
        q for q in ("q152_pagerank", "q179_kcore", "q283_hits_scores",
                    "q292_link_prediction", "q207_sorted_neighborhood",
                    "q175_inverted_postings", "q176_centroid_similarity",
                    "q177_fd_violations") if q in timings
    ) | {n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:5]}
    tail |= set(regressed)
    tail |= set(two_round_drift)
    # bound the pass on a pathologically noisy host: keep the largest
    # absolute regressions, and SAY what was dropped (no silent caps)
    capped_out: list[str] = []
    if len(tail) > 40:
        keep = set(
            sorted(tail, key=lambda n: -(timings[n] - prev_best.get(n, 0.0)))[:40]
        )
        capped_out = sorted(tail - keep)
        tail = keep
    isolated: dict[str, float] = {}
    for name in sorted(tail):
        _release_cached_blocks()
        # one throwaway invocation before the timed runs: the r10
        # driver bench showed isolated > in-batch for q341/q348 —
        # the first isolated run was absorbing session warm-up
        # (GC debt, code-cache churn from the 342-query batch), which
        # an adjudication pass must not bill to the query (r10 verdict
        # item 2). The warm-up is the query itself so scratch-reusing
        # queries (q377-style _SUCCESS guards) measure their steady
        # state, same as their in-batch posture.
        qs[name](spark, sf_dir).count()
        # drain the batch's accumulated GC debt before timing: without
        # this the first heavy tail query (q283-class, checkpointed
        # loop tables) pays a major collection the batch incurred.
        # LOCAL-MODE-ONLY lever (driver == executor here): on a real
        # cluster this collects only the driver JVM, and under Spark
        # Connect the py4j _jvm handle doesn't exist at all — hence
        # the guard (r11 ADVICE)
        try:
            spark.sparkContext._jvm.System.gc()
        except AttributeError:
            pass
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            best = min(best, time.time() - t0)
        isolated[name] = round(best, 3)

    detail = {
        "metric": "headline_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "isolated_tail": isolated,
        "tail_rule": {
            "threshold_x": 2.0,
            "floor_sec": 0.3,
            "regressed_vs_prev": regressed,
            "soft_threshold_x": 1.5,
            "soft_flags": soft_flags,
            "two_round_drift_adjudicated": two_round_drift,
            "prev_best_for_tail": {
                n: prev_best[n] for n in sorted(tail) if n in prev_best
            },
            "capped_out": capped_out,
        },
        "n": len(HEADLINE),
        "sf": sf_dir,
        "cpus": cpus,
    }
    detail_path.write_text(json.dumps(detail, indent=1) + "\n")

    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(total, 3),
                "unit": "sec",
                "queries": slowest,
                "n": len(HEADLINE),
                "sf": sf_dir,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
