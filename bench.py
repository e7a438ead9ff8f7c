"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE COMPACT JSON line (kept well under 1 kB so the driver's tail
capture can parse it — round 3's full per-query dict overflowed the 2 kB
capture and shipped `parsed: null`):
    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {<10 slowest>: sec}, "n": <count>, "sf": "<dir>"}

Full per-query timings are written to BENCH_DETAIL.json next to this file.
The bench only writes that file, never reads it, so a run depends on the
code and the data alone.

Each query is executed to completion (count() over the result — forces the
full plan without driver-side materialization of every row), in one batch
in one session. Host speed drifts 20-50 % within hours, so compare seconds
only within a session; for isolated or A/B timing of chosen queries use
``tools/opt_measure.py`` (``--baseline-ref <ref>`` times a git ref and the
working tree back to back), which shares this module's session, input
warm-up, cache release and GC drain.
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


def build_session(cpus: str):
    """The local session both this bench and tools/opt_measure.py time in."""
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
    return spark


def warm_inputs(spark, sf_dir: str) -> None:
    """JVM/codegen init plus one touch of every input file, so the first
    timed query isn't charged session init, parquet footer reads, or OS
    page-cache misses the later queries don't pay either."""
    from manufacturing_data_integration_tool_spark.sources.readers import read_table

    spark.range(10).count()
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        read_table(spark, sf_dir, p.stem).count()  # nanos-safe for events


def release_cached_blocks(spark) -> None:
    """Drop cached tables and persistent RDD blocks, so every query starts
    from the same clean storage pool. The checkpointed graph family
    (q152/q283) otherwise leaks localCheckpoint blocks into the storage
    memory of every later query (q152 read 12.8 s crowded vs 6.6 s alone).
    py4j-private, local-mode lever; a no-op under Spark Connect."""
    try:
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
    except Exception:
        pass


def gc_drain(spark) -> None:
    """Collect the JVM heap, so a query does not pay a major collection
    its predecessors incurred (q140 read 5.45 s after a crowded batch vs
    3.37 s alone on the same plan). Local-mode lever: driver == executor
    here; on a cluster it collects only the driver, and under Spark
    Connect the py4j handle does not exist."""
    try:
        spark.sparkContext._jvm.System.gc()
    except AttributeError:
        pass


def main() -> None:
    qs = __spark_entry__.queries()
    # a renamed query would otherwise start being timed unannounced,
    # leaving its old exclusion behind
    stale = set(EXCLUDED) - set(qs)
    if stale:
        raise SystemExit(f"bench ledger names unregistered queries: {sorted(stale)}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    spark = build_session(cpus)
    warm_inputs(spark, sf_dir)

    # Each query runs twice; the reported time is the min (steady state).
    # Run 1 pays per-query-shape JIT/codegen compilation that a long-lived
    # cluster pays once per application, not per query — reporting it would
    # benchmark the JIT, not the plan. The release and GC drain run between
    # queries, outside the timed region.
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
        release_cached_blocks(spark)
        gc_drain(spark)

    detail = {
        "metric": "headline_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "n": len(HEADLINE),
        "sf": sf_dir,
        "cpus": cpus,
    }
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
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
