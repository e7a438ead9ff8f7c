"""Structured Streaming file pipeline + event-time windows (SURVEY.md §2.9)."""

import shutil
import time

import pytest
from pyspark.sql import functions as F

from manufacturing_data_integration_tool_spark import load_config
from manufacturing_data_integration_tool_spark.sources.readers import read_table
from manufacturing_data_integration_tool_spark.streaming import (
    sessionized_counts,
    start_file_stream,
    windowed_event_counts,
)


def test_file_stream_drains_and_archives(spark, golden_csv, mapping_config_path, tmp_path):
    cfg = load_config(mapping_config_path)
    inbox = tmp_path / "in"
    inbox.mkdir()
    for i in range(2):
        shutil.copy(golden_csv, inbox / f"prod_{i}.csv")

    q = start_file_stream(
        spark,
        str(inbox),
        cfg,
        str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        archive_dir=str(tmp_path / "arch"),
        available_now=True,
    )
    q.awaitTermination(120)

    qd = spark.read.parquet(str(tmp_path / "out" / "quality_data"))
    errs = spark.read.parquet(str(tmp_path / "out" / "validation_errors"))
    assert qd.count() == 12  # 6 valid x 2 files
    assert errs.count() == 8
    # cleanSource=archive moves consumed files (async; allow a beat)
    deadline = time.time() + 30
    while time.time() < deadline and list(inbox.glob("*.csv")):
        time.sleep(1)
    assert list(inbox.glob("*.csv")) == []


def test_windowed_event_counts_batch_parity(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    out = windowed_event_counts(events, window_duration="1 hour")
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()
    # window starts align to the hour
    row = out.orderBy("window_start").first()
    assert row["window_start"].minute == 0 and row["window_start"].second == 0


def test_streaming_windowed_counts_from_rate_files(spark, sf_dir, tmp_path):
    """The same windowed agg runs as a real stream over parquet files."""
    events_dir = tmp_path / "events_stream"
    read_table(spark, sf_dir, "events").drop("ts_ns").write.parquet(str(events_dir))
    schema = spark.read.parquet(str(events_dir)).schema
    stream = spark.readStream.schema(schema).parquet(str(events_dir))
    agg = windowed_event_counts(stream, window_duration="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; all but the last
    # couple of hours must be present
    got = spark.sql("select sum(n_events) n from win_counts").collect()[0]["n"]
    assert got is not None and got > 0


def test_sessionized_counts_batch(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    sess = sessionized_counts(events, gap="30 minutes")
    assert sess.agg(F.sum("n_events")).collect()[0][0] == events.count()
    assert {"session_start", "session_end", "user_id", "n_events"} == set(sess.columns)


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: a micro-batch stream enriched against a static
    dimension. The static side is broadcast into every micro-batch (no
    stream-state), which is the 100 TB pattern for attaching dimension
    attributes to an event stream; results must equal the batch join."""
    dim = spark.createDataFrame(
        [(i, f"seg_{i % 3}") for i in range(10)], ["cust_id", "segment"]
    )
    rows = [(i, i % 10, float(i)) for i in range(50)]
    src = tmp_path / "ev_in"
    base = spark.createDataFrame(rows, ["event_id", "cust_id", "amount"])
    base.write.parquet(str(src))
    static = spark.read.parquet(str(src))

    stream = spark.readStream.schema(static.schema).parquet(str(src))
    enriched = stream.join(F.broadcast(dim), "cust_id").groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total")
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = {
        r["segment"]: (r["n"], r["total"])
        for r in spark.sql("SELECT * FROM enriched_agg").collect()
    }
    want = {
        r["segment"]: (r["n"], r["total"])
        for r in static.join(dim, "cust_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total"))
        .collect()
    }
    assert got == want and len(got) == 3


def test_stream_stream_time_bounded_join(spark, tmp_path):
    """Stream-stream inner join with watermarks and a time-range
    condition (purchase within 1 hour after the same user's click).
    Both watermarks + the range bound are what let Spark AGE OUT join
    state — without them a stream-stream join buffers forever. Results
    must equal the equivalent batch join."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for u in range(8):
        rows.append((f"c{u}", u, "click", t0 + dt.timedelta(minutes=10 * u)))
        # purchase 30 min after click for even users (inside the bound),
        # 3 h after for odd users (outside the bound)
        delta = dt.timedelta(minutes=30) if u % 2 == 0 else dt.timedelta(hours=3)
        rows.append((f"p{u}", u, "purchase", t0 + dt.timedelta(minutes=10 * u) + delta))
    src = tmp_path / "ss_in"
    base = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    base.write.parquet(str(src))
    static = spark.read.parquet(str(src))

    from manufacturing_data_integration_tool_spark.streaming.joins import interval_join

    def pipeline(df):
        clicks = (
            df.filter(F.col("event_type") == "click")
            .select("user_id", F.col("ts").alias("click_ts"))
        )
        purchases = (
            df.filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("ts").alias("p_ts"))
        )
        # the module op applies both watermarks itself when streaming and
        # degenerates to the plain equi-join + range filter on batch frames
        return interval_join(
            clicks,
            purchases,
            ["user_id"],
            left_ts="click_ts",
            right_ts="p_ts",
            upper="INTERVAL 1 HOUR",
            watermark="2 hours",
        ).select("user_id", "click_ts", "p_ts")

    stream = spark.readStream.schema(static.schema).parquet(str(src))
    q = (
        pipeline(stream)
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = {
        (r["user_id"], r["click_ts"], r["p_ts"])
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    want = {
        (r["user_id"], r["click_ts"], r["p_ts"])
        for r in pipeline(static).collect()
    }
    assert got == want
    assert {u for (u, _, _) in got} == {0, 2, 4, 6}  # only in-bound purchases


def test_stream_stream_left_outer_join_flushes_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream interval join (q399's state class): the
    null-padded row for a click that never finds a purchase is emitted
    only when the watermark passes click_ts + upper — state-expiry-
    driven emission, not input-driven. A far-future sentinel file lands
    as a second micro-batch to advance the watermark past every real
    click's window; the emitted set must equal the batch left join."""
    import datetime as dt
    import os
    import time as _time

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for u in range(8):
        rows.append((f"c{u}", u, "click", t0 + dt.timedelta(minutes=10 * u)))
        delta = dt.timedelta(minutes=30) if u % 2 == 0 else dt.timedelta(hours=3)
        rows.append(
            (f"p{u}", u, "purchase", t0 + dt.timedelta(minutes=10 * u) + delta)
        )
    base = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    sent = spark.createDataFrame(
        [
            ("cz", -1, "click", t0 + dt.timedelta(days=30)),
            ("pz", -1, "purchase", t0 + dt.timedelta(days=30)),
        ],
        ["event_id", "user_id", "event_type", "ts"],
    )
    src = tmp_path / "ssL_in"
    src.mkdir()
    now = _time.time()
    for i, (tag, df) in enumerate([("a", base), ("z", sent)]):
        stage = tmp_path / f"ssL_stage_{tag}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        dst = src / f"{tag}.parquet"
        part.rename(dst)
        os.utime(dst, (now + 30 * i, now + 30 * i))
    from manufacturing_data_integration_tool_spark.streaming.joins import interval_join

    # clicks and purchases must be INDEPENDENT sources (as in q399's dual
    # landing): deriving both sides from one frame is a self-join whose
    # shared lineage mis-resolves the duplicate-key drop inside the op
    def pipeline(clicks_src, purchases_src):
        clicks = clicks_src.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts")
        )
        purchases = purchases_src.filter(
            F.col("event_type") == "purchase"
        ).select("user_id", F.col("ts").alias("p_ts"))
        return interval_join(
            clicks,
            purchases,
            ["user_id"],
            left_ts="click_ts",
            right_ts="p_ts",
            upper="INTERVAL 1 HOUR",
            watermark="1 second",
            how="leftOuter",
        ).select("user_id", "click_ts", "p_ts")

    def stream_src():
        return (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    q = (
        pipeline(stream_src(), stream_src())
        .writeStream.format("memory")
        .queryName("ssL_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssL_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = {
        (r["user_id"], r["click_ts"], r["p_ts"])
        for r in spark.sql("SELECT * FROM ssL_join WHERE user_id >= 0").collect()
    }
    want = {
        (r["user_id"], r["click_ts"], r["p_ts"])
        for r in pipeline(
            spark.read.parquet(str(src)), spark.read.parquet(str(src))
        ).collect()
        if r["user_id"] >= 0
    }
    assert got == want
    # matched pairs for even users, expiry-flushed null rows for odd
    assert {u for (u, _, p) in got if p is not None} == {0, 2, 4, 6}
    assert {u for (u, _, p) in got if p is None} == {1, 3, 5, 7}


def test_corpus_ingest_stream_matches_batch(spark, tmp_path):
    """The streaming corpus-ingest pipeline (normalize -> quality gate ->
    mix -> watermarked content dedup -> parquet) must produce exactly the
    batch transform's rows on a drained inbox, including dropping the
    redelivered duplicate content."""
    from pyspark.sql import functions as F

    from manufacturing_data_integration_tool_spark.streaming import (
        corpus_ingest_transform,
        start_corpus_stream,
    )

    rows = []
    for i in range(80):
        text = f"Document {i} has Some Distinct WORDS " + " ".join(
            f"w{j}" for j in range(i % 7 + 10)
        )
        rows.append((i, text, "en" if i % 2 else "de"))
    # redeliver doc 0's content under a new id -> content dedup must drop one
    rows.append((999, rows[0][1], "de"))
    src = tmp_path / "docs_in"
    base = spark.createDataFrame(rows, ["doc_id", "text", "lang"]).withColumn(
        "ingest_ts", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    )
    base.write.parquet(str(src))
    written = spark.read.parquet(str(src))

    kwargs = dict(lang_fractions={"en": 0.6, "de": 1.0}, min_tokens=5)
    q = start_corpus_stream(
        spark,
        str(src),
        str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=written.schema,
        **kwargs,
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    got = spark.read.parquet(str(tmp_path / "out"))
    want = corpus_ingest_transform(written, **kwargs)
    # content-dedup survivor between doc 0 and 999 is arbitrary -> compare
    # on content identity, not doc ids
    g = sorted(r["content_md5"] for r in got.collect())
    w = sorted(r["content_md5"] for r in want.collect())
    assert g == w and len(g) == len(set(g))


def test_cdc_stream_applies_merge_batches(spark, tmp_path):
    """Streaming CDC apply: a JSON change feed merged into a parquet
    snapshot via foreachBatch + merge_upsert, with last-change-per-key
    within a batch and an atomic rename swap (readers never see a partial
    snapshot)."""
    import json

    from manufacturing_data_integration_tool_spark.streaming import apply_cdc_stream

    snap = tmp_path / "snapshot"
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "v", "x"]
    ).write.parquet(str(snap))

    inbox = tmp_path / "changes"
    inbox.mkdir()
    # one batch file carrying: two changes for k=2 (later wins), a delete
    # for k=3, and an insert k=9
    changes = [
        {"__seq": 1, "k": 2, "v": "stale", "is_del": False},
        {"__seq": 2, "k": 2, "v": "B2", "is_del": False},
        {"__seq": 3, "k": 3, "v": None, "is_del": True},
        {"__seq": 4, "k": 9, "v": "new", "is_del": False},
    ]
    (inbox / "batch1.jsonl").write_text("\n".join(json.dumps(c) for c in changes))

    stream = (
        spark.readStream.schema("__seq LONG, k LONG, v STRING, is_del BOOLEAN")
        .json(str(inbox))
    )
    q = apply_cdc_stream(
        stream,
        str(snap),
        ["k"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        delete_col="is_del",
    )
    q.awaitTermination(60)

    got = {
        r["k"]: (r["v"], r["x"])
        for r in spark.read.parquet(str(snap)).collect()
    }
    assert got == {1: ("a", 10), 2: ("B2", 20), 9: ("new", None)}
    # no staging/backup debris after the swap
    assert not (tmp_path / "snapshot.staging").exists()
    assert not (tmp_path / "snapshot.previous").exists()



def test_windowed_term_counts_emits_closed_windows(spark, tmp_path):
    """Append-mode windows emit when a LATER batch's watermark closes
    them — drive three availableNow runs over a growing file source and
    check every emitted (window, token) count against the batch twin."""
    from pyspark.sql import Row, functions as F
    from manufacturing_data_integration_tool_spark.streaming import (
        windowed_term_counts,
    )

    src_dir = tmp_path / "docs_in"
    ckpt = str(tmp_path / "ckpt_trend")
    sink_dir = str(tmp_path / "trend_sink")

    def write_rows(rows, sub):
        (
            spark.createDataFrame(rows)
            .selectExpr("text", "CAST(ts AS TIMESTAMP) AS ts")
            .coalesce(1)
            .write.parquet(str(src_dir / sub))
        )

    batch1 = [
        Row(text="spark stream spark", ts="2024-05-01 10:05:00"),
        Row(text="stream window", ts="2024-05-01 10:40:00"),
        Row(text="spark batch", ts="2024-05-01 11:10:00"),
        Row(text="batch batch", ts="2024-05-01 11:50:00"),
    ]
    batch2 = [Row(text="late spark", ts="2024-05-01 12:30:00")]
    batch3 = [Row(text="closer", ts="2024-05-01 13:30:00")]
    write_rows(batch1, "a")

    schema = spark.read.parquet(str(src_dir / "a")).schema

    got = {}

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
        )
        out = windowed_term_counts(
            stream, text_col="text", ts_col="ts", window="1 hour",
            watermark="10 minutes",
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", sink_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
        try:
            for r in spark.read.parquet(sink_dir).collect():
                got[(str(r["window_start"]), r["tok"])] = r["n"]
        except Exception:
            pass  # sink still empty after the first run

    run_once()
    write_rows(batch2, "b")
    run_once()
    write_rows(batch3, "c")
    run_once()

    static = spark.read.option("recursiveFileLookup", "true").parquet(str(src_dir))
    expected = {
        (str(r["window_start"]), r["tok"]): r["n"]
        for r in (
            static.select(
                "ts", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
            )
            .groupBy(F.window("ts", "1 hour").alias("w"), "tok")
            .count()
            .select(
                F.col("w.start").alias("window_start"),
                "tok",
                F.col("count").alias("n"),
            )
            .collect()
        )
    }
    # the 10:00 and 11:00 windows must have closed and emitted; every
    # emitted count must match the batch twin exactly
    assert any("10:00:00" in k[0] for k in got)
    assert any("11:00:00" in k[0] for k in got)
    for k, v in got.items():
        assert expected[k] == v


def test_streaming_countmin_accumulates_to_batch_sketch(spark, tmp_path):
    """Mergeable-sketch streaming: fold each micro-batch's Count-Min
    sketch into the persisted cell table; after draining, the table must
    be BIT-IDENTICAL to the one-shot batch sketch of all rows — cell
    addition is order- and batching-independent. Three source files +
    maxFilesPerTrigger=1 force three separate merges."""
    from manufacturing_data_integration_tool_spark.ops.text import (
        countmin_estimate,
        countmin_sketch,
    )
    from manufacturing_data_integration_tool_spark.streaming.sketches import (
        accumulate_countmin_stream,
    )

    src = tmp_path / "cms_in"
    rows = [
        (1, "alpha beta gamma alpha"),
        (2, "beta beta delta"),
        (3, "gamma alpha epsilon"),
        (4, "zeta beta alpha"),
        (5, "epsilon epsilon epsilon"),
        (6, "alpha"),
    ]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    # three separate files -> three micro-batches under maxFilesPerTrigger=1
    for i in range(3):
        base.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sketch_dir = tmp_path / "cms_state"
    q = accumulate_countmin_stream(
        stream,
        str(sketch_dir),
        depth=4,
        width=64,
        checkpoint_dir=str(tmp_path / "cms_ckpt"),
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = {
        (r["row"], r["col"]): r["cnt"]
        for r in spark.read.parquet(str(sketch_dir)).collect()
    }
    want = {
        (r["row"], r["col"]): r["cnt"]
        for r in countmin_sketch(base, "text", depth=4, width=64).collect()
    }
    assert got == want
    # and estimates off the accumulated table behave (never undercount)
    est = {
        r["term"]: r["cm_estimate"]
        for r in countmin_estimate(
            spark.read.parquet(str(sketch_dir)),
            ["alpha", "epsilon", "missing"],
            depth=4,
            width=64,
        ).collect()
    }
    assert est["alpha"] >= 5 and est["epsilon"] >= 4 and est["missing"] >= 0


def test_streaming_countmin_replay_is_noop(spark, tmp_path):
    """At-least-once replay safety (r7): a crash after the staging->target
    swap but before the checkpoint commit replays the same batch_id on
    restart. Simulate it by deleting the checkpoint's last commit entry and
    restarting on the same checkpoint: Spark re-runs batch 0 with its
    original id, and the summation-merge state must NOT be double-counted —
    the _LAST_BATCH_ID marker makes the replayed batch a no-op."""
    from manufacturing_data_integration_tool_spark.ops.text import countmin_sketch
    from manufacturing_data_integration_tool_spark.streaming.sketches import (
        accumulate_countmin_stream,
    )

    src = tmp_path / "rp_in"
    rows = [(1, "alpha beta"), (2, "beta gamma"), (3, "alpha alpha")]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    base.coalesce(1).write.parquet(str(src))
    sketch_dir = tmp_path / "rp_state"
    ckpt = tmp_path / "rp_ckpt"

    def run():
        q = accumulate_countmin_stream(
            spark.readStream.schema(base.schema).parquet(str(src)),
            str(sketch_dir),
            depth=4,
            width=64,
            checkpoint_dir=str(ckpt),
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
        return q

    def state():
        return {
            (r["row"], r["col"]): r["cnt"]
            for r in spark.read.parquet(str(sketch_dir)).collect()
        }

    run()
    want = {
        (r["row"], r["col"]): r["cnt"]
        for r in countmin_sketch(base, "text", depth=4, width=64).collect()
    }
    assert state() == want
    # the crash: batch 0 swapped in, its commit (and checksum) never written
    for f in ("0", ".0.crc"):
        (ckpt / "commits" / f).unlink(missing_ok=True)
    replayed = run()
    assert replayed.lastProgress is not None and replayed.lastProgress["batchId"] == 0
    assert state() == want
    marker = sketch_dir / "_LAST_BATCH_ID"
    assert marker.exists() and marker.read_text().strip() == "0"


def test_streaming_countmin_new_checkpoint_folds_new_batches(spark, tmp_path):
    """Batch ids count per checkpoint. A stream started on a new checkpoint
    over an existing state begins again at batch 0 with new data; the
    replay guard must not mistake those batches for replays of the old
    stream's. File A through checkpoint 1, then file B through checkpoint 2,
    must leave the sketch of A and B together."""
    from manufacturing_data_integration_tool_spark.ops.text import countmin_sketch
    from manufacturing_data_integration_tool_spark.streaming.sketches import (
        accumulate_countmin_stream,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "delta delta epsilon")],
        "doc_id long, text string",
    )
    sketch_dir = tmp_path / "nc_state"
    for name, ids in (("a", (1, 2)), ("b", (3,))):
        src = tmp_path / f"nc_in_{name}"
        base.filter(F.col("doc_id").isin(*ids)).coalesce(1).write.parquet(str(src))
        q = accumulate_countmin_stream(
            spark.readStream.schema(base.schema).parquet(str(src)),
            str(sketch_dir),
            depth=4,
            width=64,
            checkpoint_dir=str(tmp_path / f"nc_ckpt_{name}"),
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
    got = {
        (r["row"], r["col"]): r["cnt"]
        for r in spark.read.parquet(str(sketch_dir)).collect()
    }
    want = {
        (r["row"], r["col"]): r["cnt"]
        for r in countmin_sketch(base, "text", depth=4, width=64).collect()
    }
    assert got == want


def test_streaming_countmin_recovers_from_crash_mid_swap(spark, tmp_path):
    """A crash between the swap's two renames leaves the live state
    parked at ``<state>.previous`` and no live directory. The restarted
    stream must put that state back before folding the next batch: the
    result is the sketch of both files, not of the new file alone, and no
    backup is left behind."""
    from manufacturing_data_integration_tool_spark.ops.text import countmin_sketch
    from manufacturing_data_integration_tool_spark.streaming.sketches import (
        accumulate_countmin_stream,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "alpha delta alpha")],
        "doc_id long, text string",
    )
    src = tmp_path / "crash_in"
    sketch_dir = tmp_path / "crash_state"
    backup = tmp_path / "crash_state.previous"

    def land_and_drain(ids):
        base.filter(F.col("doc_id").isin(*ids)).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        q = accumulate_countmin_stream(
            spark.readStream.schema(base.schema).parquet(str(src)),
            str(sketch_dir),
            depth=4,
            width=64,
            checkpoint_dir=str(tmp_path / "crash_ckpt"),
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()

    land_and_drain((1, 2))
    sketch_dir.rename(backup)  # the crash: first rename done, second not
    land_and_drain((3,))

    got = {
        (r["row"], r["col"]): r["cnt"]
        for r in spark.read.parquet(str(sketch_dir)).collect()
    }
    want = {
        (r["row"], r["col"]): r["cnt"]
        for r in countmin_sketch(base, "text", depth=4, width=64).collect()
    }
    assert got == want
    assert not backup.exists()


def test_cdc_stream_recovers_from_crash_mid_swap(spark, tmp_path):
    """The CDC snapshot swap is the same code path: after a crash between
    its two renames the restarted stream restores ``snapshot.previous``
    and merges the next batch onto it instead of failing on the missing
    snapshot."""
    import json

    from manufacturing_data_integration_tool_spark.streaming import apply_cdc_stream

    snap = tmp_path / "snapshot"
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).write.parquet(str(snap))
    inbox = tmp_path / "changes"
    inbox.mkdir()

    def land_and_drain(name, changes):
        (inbox / name).write_text("\n".join(json.dumps(c) for c in changes))
        q = apply_cdc_stream(
            spark.readStream.schema("k LONG, v STRING").json(str(inbox)),
            str(snap),
            ["k"],
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(60)
        if q.isActive:
            q.stop()
        assert q.exception() is None

    land_and_drain("b1.jsonl", [{"k": 2, "v": "B2"}])
    snap.rename(tmp_path / "snapshot.previous")  # crash between the renames
    land_and_drain("b2.jsonl", [{"k": 3, "v": "C3"}])

    got = {r["k"]: r["v"] for r in spark.read.parquet(str(snap)).collect()}
    assert got == {1: "a", 2: "B2", 3: "C3"}
    assert not (tmp_path / "snapshot.previous").exists()


def test_streaming_minhash_index_matches_batch_candidates(spark, tmp_path):
    """Incremental LSH dedup: stream three micro-batches through the
    persisted signature index; the union of emitted candidate pairs
    (with distances) must equal the one-shot batch minhash_candidates
    over the full corpus. Batches are split so the identical pair (1,2)
    spans two batches (new-vs-OLD path) and the near pair (2,3) lands in
    one batch (new-vs-new path)."""
    from manufacturing_data_integration_tool_spark.ops.dedup import minhash_candidates
    from manufacturing_data_integration_tool_spark.streaming.dedup_index import (
        accumulate_minhash_index_stream,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over a lazy dog"),
        (4, "completely different content here entirely unique"),
        (5, "el perro y el gato en la casa sobre la mesa"),
        (6, "the quick brown fox jumps over the lazy dog today"),
    ]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    src = tmp_path / "lsh_in"
    # batch 1: {1, 4}; batch 2: {2, 3}; batch 3: {5, 6}
    for i, ids in enumerate([(1, 4), (2, 3), (5, 6)]):
        base.filter(F.col("doc_id").isin(*ids)).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = accumulate_minhash_index_stream(
        stream,
        str(tmp_path / "lsh_index"),
        str(tmp_path / "lsh_pairs"),
        max_distance=0.5,
        checkpoint_dir=str(tmp_path / "lsh_ckpt"),
    )
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
    got = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard_dist"], 6)
        for r in spark.read.parquet(str(tmp_path / "lsh_pairs")).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard_dist"], 6)
        for r in minhash_candidates(base, "doc_id", "text", max_distance=0.5).collect()
    }
    assert got == want
    assert (1, 2) in got  # identical pair split across batches (index path)
    # the persisted index holds every doc's signature exactly once
    sigs = spark.read.parquet(str(tmp_path / "lsh_index" / "sigs"))
    assert sigs.select("doc").distinct().count() == sigs.count() == 6


def test_streaming_minhash_index_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay safety for the LSH index (r7): wipe the
    checkpoint and re-stream the SAME input — every batch_id is
    redelivered. Each replayed batch must exclude its own batch=<id>
    partition from the at-rest index (no self-join against its previous
    write), so the index still holds each doc's signature exactly once
    and the pair SET still equals the one-shot batch result."""
    from manufacturing_data_integration_tool_spark.ops.dedup import minhash_candidates
    from manufacturing_data_integration_tool_spark.streaming.dedup_index import (
        accumulate_minhash_index_stream,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over a lazy dog"),
        (4, "completely different content here entirely unique"),
    ]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    src = tmp_path / "rp_lsh_in"
    for ids in [(1, 4), (2, 3)]:
        base.filter(F.col("doc_id").isin(*ids)).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run(ckpt):
        q = accumulate_minhash_index_stream(
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src)),
            str(tmp_path / "rp_lsh_index"),
            str(tmp_path / "rp_lsh_pairs"),
            max_distance=0.5,
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination(180)
        if q.isActive:
            q.stop()

    run("rp_lsh_ckpt1")
    run("rp_lsh_ckpt2")  # fresh checkpoint: every batch_id redelivered
    sigs = spark.read.parquet(str(tmp_path / "rp_lsh_index" / "sigs"))
    assert sigs.select("doc").distinct().count() == sigs.count() == 4
    got = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard_dist"], 6)
        for r in spark.read.parquet(str(tmp_path / "rp_lsh_pairs")).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard_dist"], 6)
        for r in minhash_candidates(base, "doc_id", "text", max_distance=0.5).collect()
    }
    assert got == want and (1, 2) in got


def test_streaming_accumulators_resume_from_checkpoint(spark, tmp_path):
    """Restart coverage for the r6 at-rest-state streams: drain two
    files with one query, land a third file, start a SECOND query on the
    same checkpoint — the source must resume past the consumed offsets
    (no double-counting into the CMS, no duplicate pairs from the LSH
    index) and the final state must equal the one-shot batch result."""
    from manufacturing_data_integration_tool_spark.ops.dedup import minhash_candidates
    from manufacturing_data_integration_tool_spark.ops.text import countmin_sketch
    from manufacturing_data_integration_tool_spark.streaming.dedup_index import (
        accumulate_minhash_index_stream,
    )
    from manufacturing_data_integration_tool_spark.streaming.sketches import (
        accumulate_countmin_stream,
    )

    rows = [
        (1, "alpha beta alpha"),
        (2, "beta beta gamma"),
        (3, "alpha beta alpha"),
        (4, "delta epsilon zeta"),
    ]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    src = tmp_path / "resume_in"
    for ids in [(1,), (2,)]:
        base.filter(F.col("doc_id").isin(*ids)).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def drain(tag):
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q1 = accumulate_countmin_stream(
            stream, str(tmp_path / "cms_state"), depth=4, width=64,
            checkpoint_dir=str(tmp_path / "cms_ck"),
        )
        q2 = accumulate_minhash_index_stream(
            stream, str(tmp_path / "idx"), str(tmp_path / "pairs"),
            max_distance=0.5, checkpoint_dir=str(tmp_path / "idx_ck"),
        )
        for q in (q1, q2):
            q.awaitTermination(180)
            if q.isActive:
                q.stop()

    drain("first")
    # two more docs arrive, including doc 3 — a near-dup of doc 1 from
    # the PREVIOUS run (exercises the persisted index across restarts)
    for ids in [(3, 4)]:
        base.filter(F.col("doc_id").isin(*ids)).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    drain("second")

    got_cms = {
        (r["row"], r["col"]): r["cnt"]
        for r in spark.read.parquet(str(tmp_path / "cms_state")).collect()
    }
    want_cms = {
        (r["row"], r["col"]): r["cnt"]
        for r in countmin_sketch(base, "text", depth=4, width=64).collect()
    }
    assert got_cms == want_cms  # resumed, not recounted
    got_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    want_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidates(base, "doc_id", "text", max_distance=0.5).collect()
    }
    assert got_pairs == want_pairs
    assert (1, 3) in got_pairs  # cross-restart pair via the at-rest index


def test_streaming_bloom_accumulator_matches_batch_filter(spark, tmp_path):
    """Bloom accumulation over micro-batches: the persisted (word, bits)
    table must be bit-identical to the one-shot batch filter of all keys
    — bit_or merging is order-independent AND idempotent, so
    micro-batching (and at-least-once redelivery) cannot change a bit.
    Probing the accumulated filter must show no false negatives."""
    from manufacturing_data_integration_tool_spark.ops.stats import (
        bloom_build,
        bloom_probe,
    )
    from manufacturing_data_integration_tool_spark.streaming.sketches import (
        accumulate_bloom_stream,
    )

    src = tmp_path / "bloom_in"
    rows = [(i, f"key-{i}") for i in range(30)]
    base = spark.createDataFrame(rows, "doc_id long, key string")
    for i in range(3):
        base.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = tmp_path / "bloom_state"
    q = accumulate_bloom_stream(
        stream,
        str(state),
        key_col="key",
        m_words=8,
        k=4,
        checkpoint_dir=str(tmp_path / "bloom_ckpt"),
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = {
        (r["word_idx"], r["bits"])
        for r in spark.read.parquet(str(state)).collect()
    }
    want = {
        (r["word_idx"], r["bits"])
        for r in bloom_build(base, "key", m_words=8, k=4).collect()
    }
    assert got == want
    probed = bloom_probe(
        base, "key", spark.read.parquet(str(state)), m_words=8, k=4
    )
    assert all(r["maybe_member"] for r in probed.collect())


def test_oee_stream_accumulation_matches_batch(spark, tmp_path):
    """Stream the events in three micro-batches, then compute OEE from
    the accumulated (day, counts, hour_bits) state: rows must be
    byte-identical to ops.inventory.oee_daily over the same events."""
    import datetime as dt

    from manufacturing_data_integration_tool_spark.ops.inventory import oee_daily
    from manufacturing_data_integration_tool_spark.streaming.sketches import (
        accumulate_oee_stream,
        oee_from_state,
    )

    d1, d2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    rows = [
        (1, d1.replace(hour=1), "view"),
        (2, d1.replace(hour=1, minute=30), "click"),
        (3, d1.replace(hour=5), "view"),
        (4, d1.replace(hour=7), "error"),
        (5, d2.replace(hour=3), "view"),
        (6, d2.replace(hour=9), "click"),
        (7, d2.replace(hour=9, minute=5), "error"),
        (8, d2.replace(hour=22), "purchase"),
    ]
    base = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    src = tmp_path / "oee_in"
    for i in range(3):
        base.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = tmp_path / "oee_state"
    q = accumulate_oee_stream(
        stream, str(state), checkpoint_dir=str(tmp_path / "oee_ckpt")
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = sorted(
        oee_from_state(spark, str(state)).collect(), key=lambda r: r["day"]
    )
    want = sorted(
        oee_daily(base, "ts", "event_type").collect(), key=lambda r: r["day"]
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # hour_bits merge is idempotent: active_hours survived micro-batching
    assert got[0]["active_hours"] == 2


def test_streaming_kmv_accumulates_to_batch_minima(spark, tmp_path):
    """Rank-selective min-merge streaming: the persisted k smallest
    distinct hashes after draining must equal the one-shot batch KMV
    minima over all rows — min-of-mins is batching-invariant. Three
    source files + maxFilesPerTrigger=1 force three separate merges,
    k=8 < distinct count so the rank selection actually bites."""
    from manufacturing_data_integration_tool_spark.ops.stats import (
        kmv_distinct,
    )
    from manufacturing_data_integration_tool_spark.streaming.sketches import (
        accumulate_kmv_stream,
    )

    src = tmp_path / "kmv_in"
    base = spark.createDataFrame(
        [(i, i % 23) for i in range(90)], "rid long, key long"
    )
    for i in range(3):
        base.filter(F.col("rid") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = tmp_path / "kmv_state"
    q = accumulate_kmv_stream(
        stream,
        str(state),
        key_col="key",
        k=8,
        checkpoint_dir=str(tmp_path / "kmv_ckpt"),
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = sorted(r["h"] for r in spark.read.parquet(str(state)).collect())
    h = F.conv(
        F.substring(F.md5(F.col("key").cast("string")), 1, 8), 16, 10
    ).cast("long")
    want = sorted(
        r["h"]
        for r in base.select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(8)
        .collect()
    )
    assert got == want and len(got) == 8
    # the published estimate path agrees with the batch op end-to-end
    batch = kmv_distinct(base, "key", k=8).collect()[0]
    hk = max(got)
    assert batch["kmv_estimate"] == 7 * (1 << 32) // hk


@pytest.mark.parametrize("fold", ["cms", "bloom", "oee", "kmv", "cdc"])
def test_streaming_kmv_replay_is_noop(spark, tmp_path, monkeypatch, fold):
    """Re-delivering an already-folded batch_id must leave the state
    untouched (marker short-circuit), for every accumulator on the fold
    path — the summation merges (CMS, OEE) would double-count it, and the
    idempotent ones (Bloom, KMV, CDC) must not rewrite the state either.
    The replay is real: the checkpoint's last commit is deleted and the
    stream restarted on it, so Spark re-runs batch 0 with its own id."""
    import datetime
    import importlib

    from manufacturing_data_integration_tool_spark.streaming.cdc import (
        apply_cdc_stream,
    )

    sk = importlib.import_module(
        "manufacturing_data_integration_tool_spark.streaming.sketches"
    )
    target = tmp_path / "state"
    ckpt = tmp_path / "ck"
    schema = "doc_id long, text string, ts timestamp, event_type string"
    t0 = datetime.datetime(2024, 1, 1, 10)
    base = spark.createDataFrame(
        [(1, "alpha beta", t0, "ok"), (2, "beta gamma", t0.replace(hour=11), "error")],
        schema,
    )
    if fold == "cdc":
        spark.createDataFrame([(1, "stale", t0, "ok")], schema).write.parquet(
            str(target)
        )
    start = {
        "cms": lambda s: sk.accumulate_countmin_stream(
            s, str(target), depth=4, width=64, checkpoint_dir=str(ckpt)
        ),
        "bloom": lambda s: sk.accumulate_bloom_stream(
            s, str(target), key_col="doc_id", checkpoint_dir=str(ckpt)
        ),
        "oee": lambda s: sk.accumulate_oee_stream(
            s, str(target), checkpoint_dir=str(ckpt)
        ),
        "kmv": lambda s: sk.accumulate_kmv_stream(
            s, str(target), key_col="doc_id", k=4, checkpoint_dir=str(ckpt)
        ),
        "cdc": lambda s: apply_cdc_stream(
            s, str(target), ["doc_id"], checkpoint_dir=str(ckpt)
        ),
    }[fold]

    calls = []
    orig = sk._swap_in

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(sk, "_swap_in", spy)
    src = tmp_path / "in"
    base.coalesce(1).write.parquet(str(src))

    def run():
        q = start(spark.readStream.schema(base.schema).parquet(str(src)))
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
        assert q.exception() is None
        return q

    def state():
        return sorted(tuple(r) for r in spark.read.parquet(str(target)).collect())

    run()
    n_swaps = len(calls)
    before = state()
    marker = int((target / sk._MARKER).read_text())
    stream = (target / sk._STREAM_MARKER).read_text()
    # re-invoke the guard directly: already-applied id short-circuits
    assert sk._already_applied(target, marker, stream)
    assert not sk._already_applied(target, marker + 1, stream)
    # the same id from another checkpoint's stream is new data
    assert not sk._already_applied(target, marker, stream + "-other")
    # the crash: batch 0 swapped in, its commit (and checksum) never written
    for f in ("0", ".0.crc"):
        (ckpt / "commits" / f).unlink(missing_ok=True)
    replayed = run()
    assert replayed.lastProgress is not None and replayed.lastProgress["batchId"] == 0
    assert n_swaps == 1 and len(calls) == n_swaps
    assert state() == before
