"""Unit tests for ops.stats (EWMA / MAD / CUSUM) and ops.text.token_pmi:
pure-Python twins on micro-fixtures pin the semantics; driver-scale parity
against DuckDB lives in tools/parity_check.py (q169-q172)."""

import math

import pytest
from pyspark.sql import Row, functions as F

from manufacturing_data_integration_tool_spark.ops.stats import (
    cusum_flags,
    ewma_trailing,
    mad_outliers,
)
from manufacturing_data_integration_tool_spark.ops.text import token_pmi


def test_ewma_trailing_matches_recursive_twin(spark):
    # One user, 5 readings: the closed-form weighted tail must equal the
    # textbook truncated EWMA with normalized weights.
    vals = [10.0, 20.0, 15.0, 30.0, 25.0]  # chronological
    rows = [
        Row(k=1, ts=i, eid=i, v=v) for i, v in enumerate(vals)
    ]
    out = ewma_trailing(
        spark.createDataFrame(rows), "k", "ts", "v", tiebreak_col="eid", depth=16
    ).collect()
    assert len(out) == 1 and out[0]["n_used"] == 5
    # most-recent-first weights (7/10)^j, normalized over present rows
    w = [(0.7) ** j for j in range(5)]
    expect = sum(wi * x for wi, x in zip(w, reversed(vals))) / sum(w)
    assert out[0]["ewma"] == pytest.approx(expect, abs=1e-6)


def test_ewma_trailing_depth_truncates_and_ties_break_on_tiebreak(spark):
    rows = [Row(k=1, ts=i, eid=i, v=float(i)) for i in range(30)]
    out = ewma_trailing(
        spark.createDataFrame(rows), "k", "ts", "v", tiebreak_col="eid", depth=4
    ).collect()[0]
    assert out["n_used"] == 4
    w = [(0.7) ** j for j in range(4)]
    expect = sum(wi * x for wi, x in zip(w, [29.0, 28.0, 27.0, 26.0])) / sum(w)
    assert out["ewma"] == pytest.approx(expect, abs=1e-6)
    # equal timestamps: the higher tiebreak value is "most recent"
    dup = [Row(k=1, ts=0, eid=0, v=100.0), Row(k=1, ts=0, eid=1, v=0.0)]
    out2 = ewma_trailing(
        spark.createDataFrame(dup), "k", "ts", "v", tiebreak_col="eid", depth=2
    ).collect()[0]
    # eid=1 (v=0) gets weight 1, eid=0 (v=100) gets weight 0.7
    assert out2["ewma"] == pytest.approx(100 * 0.7 / 1.7, abs=1e-6)


def test_ewma_trailing_large_values_do_not_overflow_to_null(spark):
    # decimal(12,0) quantization silently NULLed any |value| >= 1e8 at the
    # default scale=10_000 (r4 advice); (18,0) must carry them exactly.
    rows = [Row(k=1, ts=0, eid=0, v=2.5e9), Row(k=1, ts=1, eid=1, v=1.0e9)]
    out = ewma_trailing(
        spark.createDataFrame(rows), "k", "ts", "v", tiebreak_col="eid", depth=4
    ).collect()[0]
    assert out["n_used"] == 2
    expect = (1.0e9 * 1.0 + 2.5e9 * 0.7) / 1.7
    assert out["ewma"] == pytest.approx(expect, rel=1e-9)


def test_ewma_trailing_raises_loudly_past_decimal18_overflow(spark):
    # Past 18 digits the quantized value would cast to NULL non-ANSI and
    # silently skew the weighted sum (r5 advice); the quantizer must raise
    # loudly instead, like the weight-table guard.
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    rows = [Row(k=1, ts=0, eid=0, v=1.0e15), Row(k=1, ts=1, eid=1, v=1.0)]
    with pytest.raises(SparkRuntimeException, match="overflows"):
        ewma_trailing(
            spark.createDataFrame(rows), "k", "ts", "v", tiebreak_col="eid", depth=4
        ).collect()
    # NULL values still pass through (NULL, not a raise)
    rows2 = [Row(k=1, ts=0, eid=0, v=None), Row(k=1, ts=1, eid=1, v=2.0)]
    out = ewma_trailing(
        spark.createDataFrame(rows2, "k int, ts int, eid int, v double"),
        "k", "ts", "v", tiebreak_col="eid", depth=4,
    ).collect()[0]
    assert out["n_used"] == 2


def test_kmv_distinct_exact_below_k_and_bounded_error_above(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import kmv_distinct

    # below k: the sketch holds everything -> exact
    small = spark.range(40).select((F.col("id") * 7).alias("v"))
    row = kmv_distinct(small, "v", k=64).collect()[0]
    assert row["n_kept"] == 40 and row["kmv_estimate"] == 40
    # well above k: estimate within ~4 standard errors (1/sqrt(k-2))
    big = spark.range(20_000).select(F.col("id").alias("v"))
    est = kmv_distinct(big, "v", k=256).collect()[0]["kmv_estimate"]
    assert abs(est - 20_000) / 20_000 < 4 / (254**0.5), est
    # duplicates don't inflate: distinct-of-hashes first
    dup = big.unionByName(big)
    est2 = kmv_distinct(dup, "v", k=256).collect()[0]["kmv_estimate"]
    assert est2 == est
    # NULL keys are ignored (count_distinct semantics) — they must not
    # consume a sketch slot or shift the estimate
    withnull = small.unionByName(
        spark.createDataFrame([(None,)], "v long")
    )
    rown = kmv_distinct(withnull, "v", k=64).collect()[0]
    assert rown["n_kept"] == 40 and rown["kmv_estimate"] == 40
    with pytest.raises(ValueError, match="k must"):
        kmv_distinct(big, "v", k=1)


def test_ewma_weight_table_is_exact_integer(spark):
    with pytest.raises(ValueError):
        ewma_trailing(
            spark.range(1), "id", "id", "id", tiebreak_col="id", depth=40
        )


def test_mad_outliers_robust_to_contamination(spark):
    # 20 values near 100 plus one 1e6 junk row: a zscore screen's std
    # explodes; the MAD screen must still flag exactly the junk row.
    rows = [Row(g="a", v=100.0 + (i % 5)) for i in range(20)]
    rows.append(Row(g="a", v=1_000_000.0))
    out = mad_outliers(
        spark.createDataFrame(rows), ["g"], "v", scale=100, n_sigmas=3.0
    ).collect()[0]
    assert out["n"] == 21
    assert out["n_outliers"] == 1
    assert out["median_v"] == pytest.approx(102.0, abs=0.01)
    # MAD of {0,1,1,2,2,...} pattern stays ~1, not 1e5
    assert out["mad_v"] < 5


def test_mad_outliers_median_interpolates_even_counts(spark):
    rows = [Row(g="a", v=float(x)) for x in (1, 2, 3, 4)]
    out = mad_outliers(spark.createDataFrame(rows), ["g"], "v").collect()[0]
    assert out["median_v"] == pytest.approx(2.5)


def _cusum_recursive(series, target, k_units, scale=10_000):
    """Textbook Page recursion on the integer grid, for the twin check."""
    sp = sn = 0
    out = []
    d = len(series)
    sm = sum(series)
    for m in series:
        yp = d * m - sm - d * k_units
        yn = sm - d * m - d * k_units
        sp = max(0, sp + yp)
        sn = max(0, sn + yn)
        out.append((sp, sn))
    return out


def test_cusum_flags_matches_page_recursion(spark):
    # Mean shifts up from ~10 to ~50 halfway: the closed form
    # cum - min(0, prefix-min(cum)) must equal the max(0, ...) recursion.
    vals = [10.0, 11.0, 9.0, 10.0, 50.0, 51.0, 49.0, 50.0]
    rows = [
        Row(k="x", ts=f"2024-01-{i + 1:02d} 00:00:00", v=v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows).selectExpr(
        "k", "CAST(ts AS TIMESTAMP) AS ts", "v"
    )
    out = cusum_flags(df, "k", "ts", "v", slack=2.0, threshold=5.0)
    got = {r["day"].day: r for r in out.collect()}
    series = [round(v * 10_000) for v in vals]
    twin = _cusum_recursive(series, None, 20_000)
    d = len(vals)
    for i, (sp, sn) in enumerate(twin):
        r = got[i + 1]
        assert r["s_pos"] == pytest.approx(sp / (d * 10_000), abs=1e-4)
        assert r["s_neg"] == pytest.approx(sn / (d * 10_000), abs=1e-4)
        assert r["flagged"] == (sp > d * 50_000 or sn > d * 50_000)
    # centered on the series mean, a step change flags on BOTH sides:
    # the low head drives S- and the high tail drives S+.
    assert got[1]["s_pos"] == 0.0 and got[1]["s_neg"] > 0
    assert got[8]["flagged"] and got[8]["s_pos"] > got[8]["s_neg"]


def test_cusum_collapses_raw_events_to_daily_means(spark):
    # 3 events on one day average to one m; window partitions are
    # day-count sized regardless of raw event count.
    rows = [
        Row(k="x", ts="2024-01-01 01:00:00", v=10.0),
        Row(k="x", ts="2024-01-01 02:00:00", v=20.0),
        Row(k="x", ts="2024-01-01 03:00:00", v=30.0),
        Row(k="x", ts="2024-01-02 00:00:00", v=40.0),
    ]
    df = spark.createDataFrame(rows).selectExpr(
        "k", "CAST(ts AS TIMESTAMP) AS ts", "v"
    )
    out = {r["day"].day: r for r in cusum_flags(df, "k", "ts", "v").collect()}
    assert len(out) == 2
    assert out[1]["m"] == pytest.approx(20.0)
    assert out[2]["m"] == pytest.approx(40.0)


def test_token_pmi_hand_computed(spark):
    # "a b" together in 3 of 4 docs; "a" in 4, "b" in 3.
    rows = [
        Row(doc_id=1, text="a b"),
        Row(doc_id=2, text="a b"),
        Row(doc_id=3, text="a b c"),
        Row(doc_id=4, text="a c"),
    ]
    out = token_pmi(
        spark.createDataFrame(rows), "doc_id", "text",
        vocab_size=10, min_pair_count=1,
    ).collect()
    got = {(r["token_a"], r["token_b"]): r for r in out}
    ab = got[("a", "b")]
    assert (ab["df_a"], ab["df_b"], ab["df_ab"]) == (4, 3, 3)
    assert ab["pmi"] == pytest.approx(math.log(3 * 4 / (4 * 3)), abs=1e-6)
    bc = got[("b", "c")]
    assert bc["df_ab"] == 1
    assert bc["pmi"] == pytest.approx(math.log(1 * 4 / (3 * 2)), abs=1e-6)


def test_token_pmi_vocab_cap_bounds_pairs(spark):
    # vocab_size=2 keeps only the two highest-df tokens — pairs outside
    # the vocab must not appear.
    rows = [
        Row(doc_id=i, text="x y rare%d" % i) for i in range(5)
    ]
    out = token_pmi(
        spark.createDataFrame(rows), "doc_id", "text",
        vocab_size=2, min_pair_count=1,
    ).collect()
    assert {(r["token_a"], r["token_b"]) for r in out} == {("x", "y")}


def test_inverted_postings_two_level_equals_naive(spark):
    from pyspark.sql import functions as F
    from manufacturing_data_integration_tool_spark.ops.text import (
        inverted_postings,
        tokenize,
    )

    rows = [Row(doc_id=i, text="common tok%d" % (i % 3)) for i in range(200)]
    df = spark.createDataFrame(rows)
    out = {
        r["tok"]: r
        for r in inverted_postings(
            df, "doc_id", "text", vocab_size=10, max_postings=17
        ).collect()
    }
    # "common" appears in all 200 docs: df exact, postings capped at the
    # 17 smallest ids despite the 64-way bucketed two-level collect.
    assert out["common"]["df"] == 200
    assert out["common"]["postings"] == list(range(17))
    assert out["tok1"]["df"] == 67
    assert out["tok1"]["postings"][:3] == [1, 4, 7]
    assert len(out["tok1"]["postings"]) == 17

    # STRING doc ids must bucket correctly too (r4 advice: pmod on a raw
    # string id coerced to NULL, collapsing all postings into one bucket)
    srows = [Row(doc_id="doc%03d" % i, text="common tok%d" % (i % 3)) for i in range(200)]
    sout = {
        r["tok"]: r
        for r in inverted_postings(
            spark.createDataFrame(srows), "doc_id", "text",
            vocab_size=10, max_postings=17,
        ).collect()
    }
    assert sout["common"]["df"] == 200
    assert sout["common"]["postings"] == ["doc%03d" % i for i in range(17)]


def test_centroid_similarity_hand_computed(spark):
    from manufacturing_data_integration_tool_spark.ops.similarity import (
        centroid_similarity,
    )

    rows = [
        Row(label=0, embedding=[1.0, 0.0]),
        Row(label=0, embedding=[1.0, 0.0]),
        Row(label=1, embedding=[0.0, 1.0]),
        Row(label=2, embedding=[1.0, 1.0]),
    ]
    out = {
        (r["label_a"], r["label_b"]): r
        for r in centroid_similarity(spark.createDataFrame(rows)).collect()
    }
    assert out[(0, 1)]["cos_sim"] == pytest.approx(0.0, abs=1e-6)
    assert out[(0, 2)]["cos_sim"] == pytest.approx(1 / math.sqrt(2), abs=1e-6)
    assert out[(1, 2)]["cos_sim"] == pytest.approx(1 / math.sqrt(2), abs=1e-6)
    assert out[(0, 1)]["n_a"] == 2 and out[(0, 1)]["n_b"] == 1


def test_kcore_matches_peeling_twin(spark):
    from manufacturing_data_integration_tool_spark.ops.graph import kcore

    # K4 clique (1-4) + a pendant chain 4-5-6: the 3-core is exactly the
    # clique; the chain peels away.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r["core_degree"] for r in kcore(df, k=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=1 keeps everything (every node has an edge)
    out1 = {r["node"]: r["core_degree"] for r in kcore(df, k=1).collect()}
    assert set(out1) == {1, 2, 3, 4, 5, 6}


def test_kcore_cascading_peel(spark):
    from manufacturing_data_integration_tool_spark.ops.graph import kcore

    # A chain 1-2-3-4: 2-core is empty, and removal must CASCADE (ends
    # peel first, exposing new degree-1 nodes each round).
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    assert kcore(df, k=2).count() == 0


def test_kcore_reads_its_input_once(spark):
    from pyspark.sql.types import LongType

    from manufacturing_data_integration_tool_spark.ops.graph import kcore

    # K4 + pendant chain (8 edges, one peel round at k=3). Every row of the
    # input passes through a nondeterministic UDF that counts its calls:
    # the upstream pipeline must be evaluated once, not once per round.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    calls = spark.sparkContext.accumulator(0)

    def seen(x):
        calls.add(1)
        return x

    probe = F.udf(seen, LongType()).asNondeterministic()
    df = spark.createDataFrame(edges, ["src", "dst"]).select(
        probe("src").alias("src"), "dst"
    )
    out = {r["node"]: r["core_degree"] for r in kcore(df, k=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    assert calls.value == len(edges)


def test_kcore_max_iter_counts_peel_rounds(spark):
    from manufacturing_data_integration_tool_spark.ops.graph import kcore

    # Triangle 1-2-3 with an L-edge tail 3-4-...-(3+L): at k=2 each round
    # peels exactly the tail's far end, so the 2-core needs exactly L peels.
    tail = 4
    edges = [(1, 2), (2, 3), (1, 3)] + [(i, i + 1) for i in range(3, 3 + tail)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r["core_degree"] for r in kcore(df, k=2, max_iter=tail).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    with pytest.raises(RuntimeError, match="max_iter"):
        kcore(df, k=2, max_iter=tail - 1)


def test_kcore_empty_input(spark):
    from manufacturing_data_integration_tool_spark.ops.graph import kcore

    df = spark.createDataFrame([], "src bigint, dst bigint")
    out = kcore(df, k=2)
    assert out.dtypes == [("node", "bigint"), ("core_degree", "bigint")]
    assert out.collect() == []


def test_longest_daily_streak_hand_case(spark):
    from manufacturing_data_integration_tool_spark.ops.temporal import (
        longest_daily_streak,
    )

    rows = []
    # user 1: days 1,2,3 then 7,8 -> longest 3 starting day 1
    for d in (1, 2, 3, 7, 8):
        rows.append(Row(u=1, ts=f"2024-03-{d:02d} 10:00:00"))
    # duplicate events on one day must not inflate the streak
    rows.append(Row(u=1, ts="2024-03-02 23:00:00"))
    # user 2: ties — two 2-day runs; best_start is the EARLIER one
    for d in (1, 2, 5, 6):
        rows.append(Row(u=2, ts=f"2024-03-{d:02d} 09:00:00"))
    df = spark.createDataFrame(rows).selectExpr("u", "CAST(ts AS TIMESTAMP) AS ts")
    out = {r["u"]: r for r in longest_daily_streak(df, "u", "ts").collect()}
    assert (out[1]["n_days"], out[1]["n_streaks"], out[1]["longest_streak"]) == (5, 2, 3)
    assert str(out[1]["best_start"]) == "2024-03-01"
    assert (out[2]["longest_streak"], str(out[2]["best_start"])) == (2, "2024-03-01")


def test_fd_violations_exact_and_violated(spark):
    from manufacturing_data_integration_tool_spark.functions.profiling import (
        fd_violations,
    )

    rows = [
        Row(k=1, a="x", b="p"),
        Row(k=1, a="x", b="q"),  # k=1 maps to two b values
        Row(k=2, a="y", b="r"),
    ]
    out = {
        r["fd"]: r
        for r in fd_violations(
            spark.createDataFrame(rows), [("k", "a"), ("k", "b")]
        ).collect()
    }
    assert out["k->a"]["violation_rate"] == 0.0
    assert out["k->b"]["n_violating_keys"] == 1
    assert out["k->b"]["max_distinct_rhs"] == 2


def test_kcore_random_graph_matches_python_peeling(spark):
    import random

    from manufacturing_data_integration_tool_spark.ops.graph import kcore

    rng = random.Random(1234)
    n, m, k = 60, 150, 3
    edges = set()
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)

    # reference peeling (order-independent fixed point)
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
                changed = True
    expect = {v: len(nb) for v, nb in adj.items() if nb}

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["core_degree"] for r in kcore(df, k=k).collect()}
    assert got == expect


def test_ewma_sub_bucketed_prune_is_exact(spark):
    # Two-phase latest-k selection must be lossless: same EWMA with and
    # without the (key, hash-bucket) pre-rank.
    import random

    rng = random.Random(7)
    rows = [
        Row(k=i % 5, ts=rng.randrange(10_000), eid=i, v=rng.uniform(0, 100))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows)
    a = {
        r["k"]: (r["n_used"], r["ewma"])
        for r in ewma_trailing(
            df, "k", "ts", "v", tiebreak_col="eid", sub_buckets=0
        ).collect()
    }
    b = {
        r["k"]: (r["n_used"], r["ewma"])
        for r in ewma_trailing(
            df, "k", "ts", "v", tiebreak_col="eid", sub_buckets=16
        ).collect()
    }
    assert a == b


def test_phonetic_key_pairs_blocks_sound_alikes(spark):
    from manufacturing_data_integration_tool_spark.ops.dedup import (
        phonetic_key_pairs,
    )

    rows = [
        Row(name=n)
        for n in [
            "Johnson", "Jonson", "Johnsen",     # J525 block
            "Smith", "Smyth", "Smithe",         # S530 block
            "Baker",                            # alone
            "abc",                              # below min_len
        ]
    ]
    out = phonetic_key_pairs(
        spark.createDataFrame(rows), "name", max_dist=3, min_len=4
    ).collect()
    pairs = {(r["key_a"], r["key_b"]) for r in out}
    assert ("Johnsen", "Johnson") in pairs
    assert ("Johnson", "Jonson") in pairs or ("Jonson", "Johnson") in pairs
    assert ("Smith", "Smyth") in pairs
    # cross-block pairs must not exist; Baker pairs with nothing
    assert not any("Baker" in p for p in pairs)
    assert not any("abc" in p for p in pairs)
    for r in out:
        assert r["dist"] <= 3 and len(r["code"]) == 4


def test_xbar_r_chart_hand_computed(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import xbar_r_chart

    rows = []
    # key "m": two days, 5 readings each (plus a 6th reading on day 1
    # that must be EXCLUDED — only the first n by (ts, id) count)
    day1 = [10.0, 12.0, 11.0, 13.0, 9.0]
    day2 = [30.0, 31.0, 29.0, 30.0, 30.0]  # shifted mean, tight range
    for i, v in enumerate(day1):
        rows.append(Row(k="m", ts=f"2024-01-01 0{i}:00:00", eid=i, v=v))
    rows.append(Row(k="m", ts="2024-01-01 09:00:00", eid=99, v=1000.0))
    for i, v in enumerate(day2):
        rows.append(Row(k="m", ts=f"2024-01-02 0{i}:00:00", eid=10 + i, v=v))
    # incomplete day: must be dropped
    rows.append(Row(k="m", ts="2024-01-03 00:00:00", eid=20, v=50.0))
    df = spark.createDataFrame(rows).selectExpr(
        "k", "CAST(ts AS TIMESTAMP) AS ts", "eid", "v"
    )
    out = {
        str(r["day"]): r
        for r in xbar_r_chart(df, "k", "ts", "v", tiebreak_col="eid", n=5).collect()
    }
    assert set(out) == {"2024-01-01", "2024-01-02"}  # day 3 dropped
    d1, d2 = out["2024-01-01"], out["2024-01-02"]
    assert d1["xbar"] == pytest.approx(11.0)  # 1000.0 outlier excluded
    assert d1["r"] == pytest.approx(4.0)
    assert d2["xbar"] == pytest.approx(30.0)
    assert d2["r"] == pytest.approx(2.0)
    xbarbar, rbar = 20.5, 3.0
    assert d1["xbarbar"] == pytest.approx(xbarbar)
    assert d1["ucl_x"] == pytest.approx(xbarbar + 0.577 * rbar, abs=1e-4)
    assert d1["ucl_r"] == pytest.approx(2.114 * rbar, abs=1e-4)
    # both days sit far from the 2-subgroup grand mean -> both flag
    assert d1["out_of_control"] and d2["out_of_control"]


def test_xbar_r_chart_two_phase_sampling_is_lossless(spark):
    import random

    from manufacturing_data_integration_tool_spark.ops.stats import xbar_r_chart

    rng = random.Random(5)
    rows = [
        Row(
            k="a",
            ts=f"2024-02-{1 + (i % 6):02d} {rng.randrange(24):02d}:{rng.randrange(60):02d}:00",
            eid=i,
            v=rng.uniform(0, 50),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows).selectExpr(
        "k", "CAST(ts AS TIMESTAMP) AS ts", "eid", "v"
    )
    a = sorted(
        (str(r["day"]), r["xbar"], r["r"], r["out_of_control"])
        for r in xbar_r_chart(
            df, "k", "ts", "v", tiebreak_col="eid", sub_buckets=0
        ).collect()
    )
    b = sorted(
        (str(r["day"]), r["xbar"], r["r"], r["out_of_control"])
        for r in xbar_r_chart(
            df, "k", "ts", "v", tiebreak_col="eid", sub_buckets=16
        ).collect()
    )
    assert a == b and len(a) == 6


def test_p_chart_hand_computed(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import p_chart

    rows = []
    # group A: 2/100 bad; group B: 30/100 bad (way out of control)
    for i in range(100):
        rows.append(Row(g="A", bad=i < 2))
        rows.append(Row(g="B", bad=i < 30))
    out = {r["g"]: r for r in p_chart(spark.createDataFrame(rows), "g", "bad").collect()}
    pbar = 32 / 200
    se = math.sqrt(pbar * (1 - pbar) / 100)
    assert out["A"]["p"] == pytest.approx(0.02)
    assert out["A"]["pbar"] == pytest.approx(pbar)
    assert out["A"]["ucl"] == pytest.approx(pbar + 3 * se, abs=1e-6)
    assert out["A"]["lcl"] == pytest.approx(max(0.0, pbar - 3 * se), abs=1e-6)
    assert out["A"]["out_of_control"] is True  # 0.02 < LCL (0.05)
    assert out["B"]["out_of_control"] is True  # 0.30 > UCL (0.27)


def test_we_run_rules_detects_same_side_runs(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import (
        we_run_rules,
        xbar_r_chart,
    )

    rows = []
    # 8 days below ~50, then 8 days above — rule4 must fire on days 8
    # and 16; nothing breaches 3 sigma (values are tight around means).
    for d in range(8):
        for i in range(5):
            rows.append(
                Row(k="m", ts=f"2024-01-{d + 1:02d} 0{i}:00:00",
                    eid=d * 10 + i, v=40.0 + i)
            )
    for d in range(8, 16):
        for i in range(5):
            rows.append(
                Row(k="m", ts=f"2024-01-{d + 1:02d} 0{i}:00:00",
                    eid=d * 10 + i, v=60.0 + i)
            )
    df = spark.createDataFrame(rows).selectExpr(
        "k", "CAST(ts AS TIMESTAMP) AS ts", "eid", "v"
    )
    chart = xbar_r_chart(df, "k", "ts", "v", tiebreak_col="eid", n=5)
    out = {r["day"].day: r for r in we_run_rules(chart, "k").collect()}
    assert out[8]["rule4"] and out[16]["rule4"]
    assert not out[7]["rule4"] and not out[9]["rule4"]
    # sides: first half -1, second half +1
    assert out[1]["side"] == -1 and out[16]["side"] == 1


def test_process_capability_hand_computed(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import (
        process_capability,
    )

    rows = []
    # two identical subgroups: mean 12, range 4 -> rbar=4, sigma=4/2.326
    for d in (1, 2):
        for i, v in enumerate([10.0, 12.0, 11.0, 13.0, 14.0]):
            rows.append(
                Row(k="m", ts=f"2024-01-{d:02d} 0{i}:00:00", eid=d * 10 + i, v=v)
            )
    df = spark.createDataFrame(rows).selectExpr(
        "k", "CAST(ts AS TIMESTAMP) AS ts", "eid", "v"
    )
    out = process_capability(
        df, "k", "ts", "v", tiebreak_col="eid", lsl=0.0, usl=24.0, n=5
    ).collect()[0]
    sigma = 4.0 / 2.326
    assert out["n_subgroups"] == 2
    assert out["sigma_hat"] == pytest.approx(sigma, abs=1e-4)
    assert out["cp"] == pytest.approx(24.0 / (6 * sigma), abs=1e-4)
    assert out["cpk"] == pytest.approx(12.0 / (3 * sigma), abs=1e-4)


def test_ewma_control_chart_matches_python_twin(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import (
        EWMA_CHART_FACTOR,
        ewma_control_chart,
    )

    # two keys; key 'a' has a level shift in the back half that Shewhart
    # limits would miss but the EWMA must flag
    rows = []
    for i in range(20):
        v = 10.0 if i < 12 else 10.6
        rows.append(Row(k="a", ts="2024-01-%02d 05:00:00" % (i + 1), v=v + (0.01 * (i % 3))))
    for i in range(5):
        rows.append(Row(k="b", ts="2024-02-%02d 05:00:00" % (i + 1), v=50.0 + i))
    # second same-day reading for one 'a' day: exercises the day-mean
    rows.append(Row(k="a", ts="2024-01-03 09:00:00", v=10.04))
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows).select(
        "k", F.col("ts").cast("timestamp").alias("ts"), F.col("v")
    )
    out = {
        (r["k"], str(r["day"])): r
        for r in ewma_control_chart(df, "k", "ts", "v").collect()
    }

    # twin: identical quantization + left fold
    import collections
    daily = collections.defaultdict(lambda: [0, 0])
    for r in rows:
        day = r.ts[:10]
        cents = int(r.v * 100 + 0.5)
        daily[(r.k, day)][0] += 1
        daily[(r.k, day)][1] += cents
    series = collections.defaultdict(list)
    for (k, day), (cnt, sc) in sorted(daily.items()):
        xq = int(sc * 10000.0 / cnt + 0.5)
        series[k].append((day, xq))
    for k, pts in series.items():
        xs = [xq / 1e6 for _, xq in pts]
        n = len(pts)
        mu = sum(xq for _, xq in pts) / n / 1e6
        mr = sum(abs(pts[i][1] - pts[i - 1][1]) for i in range(1, n))
        sigma = mr / (n - 1) / 1e6 / 1.128
        half = 3.0 * sigma * EWMA_CHART_FACTOR
        def r4(v):
            return math.floor(v * 10000.0 + 0.5) / 10000.0

        z = xs[0]
        for i, (day, xq) in enumerate(pts):
            if i:
                z = 0.25 * xs[i] + 0.75 * z
            got = out[(k, day)]
            assert got["x"] == pytest.approx(xs[i], abs=1e-4)
            assert got["z"] == pytest.approx(r4(z), abs=1e-9)
            assert got["center"] == pytest.approx(r4(mu), abs=1e-9)
            assert got["ucl"] == pytest.approx(r4(mu + half), abs=1e-9)
            assert got["out_of_control"] == (
                r4(z) > r4(mu + half) or r4(z) < r4(mu - half)
            )
    # the shift in key 'a' must actually trip the chart
    assert any(r["out_of_control"] for (k, _), r in out.items() if k == "a")
    assert len(out) == 20 + 5


def test_soundex_code_classic_values(spark):
    """Explicit-ops Soundex vs the classic published codes (Knuth TAOCP
    vol. 3 / NARA spec), including the H/W-transparency rule."""
    from pyspark.sql import functions as F

    from manufacturing_data_integration_tool_spark.ops.dedup import soundex_code

    cases = {
        "Robert": "R163", "Rupert": "R163", "Ashcraft": "A261",
        "Ashcroft": "A261", "Tymczak": "T522", "Pfister": "P236",
        "Honeyman": "H555", "Johnson": "J525", "Smith": "S530",
        "Smyth": "S530", "Washington": "W252", "Lee": "L000",
        "Gutierrez": "G362", "Jackson": "J250", "BAB": "B100",
        "x123": "X000",
    }
    df = spark.createDataFrame([Row(k=k) for k in cases])
    got = {r["k"]: r["c"] for r in df.select("k", soundex_code("k").alias("c")).collect()}
    assert got == cases


# ---------------------------------------------------------------------------
# changepoint_cusum / window_funnel / blocking_audit (round-6 wave 4)
# ---------------------------------------------------------------------------


def test_changepoint_cusum_finds_the_level_shift(spark):
    import datetime as dt

    # 6 days: 10,10,10,50,50,50 — the split must land at t=3 (last day of
    # the left segment), the exact argmax of |n*S_t - t*S_n|.
    rows = [
        Row(k="a", ts=dt.datetime(2024, 1, d + 1), v=float(x))
        for d, x in enumerate([10, 10, 10, 50, 50, 50])
    ]
    from manufacturing_data_integration_tool_spark.ops.stats import (
        changepoint_cusum,
    )

    out = changepoint_cusum(
        spark.createDataFrame(rows), "k", "ts", "v", scale=100
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["split_t"] == 3 and r["split_day"] == dt.date(2024, 1, 3)
    assert r["left_sum"] == 3000 and r["right_sum"] == 15000
    # stat = |6*3000 - 3*18000| = 36000
    assert r["stat"] == 36000 and r["n_days"] == 6


def test_changepoint_cusum_tie_breaks_earliest_day(spark):
    import datetime as dt

    # constant series: every split has stat 0 — earliest day must win.
    rows = [
        Row(k="a", ts=dt.datetime(2024, 1, d + 1), v=5.0) for d in range(4)
    ]
    from manufacturing_data_integration_tool_spark.ops.stats import (
        changepoint_cusum,
    )

    r = changepoint_cusum(
        spark.createDataFrame(rows), "k", "ts", "v"
    ).collect()[0]
    assert r["split_t"] == 1 and r["split_day"] == dt.date(2024, 1, 1)


def test_changepoint_cusum_single_day_key_emits_nothing(spark):
    import datetime as dt

    rows = [Row(k="solo", ts=dt.datetime(2024, 1, 1), v=1.0)]
    from manufacturing_data_integration_tool_spark.ops.stats import (
        changepoint_cusum,
    )

    assert (
        changepoint_cusum(spark.createDataFrame(rows), "k", "ts", "v").count()
        == 0
    )


def test_window_funnel_depths_and_window_bound(spark):
    from manufacturing_data_integration_tool_spark.ops.temporal import (
        window_funnel,
    )

    W = 100
    rows = [
        # u1 completes a->b->c inside the window
        Row(u=1, t=0, ty="a"),
        Row(u=1, t=10, ty="b"),
        Row(u=1, t=20, ty="c"),
        # u2: c arrives past t1+W -> depth 2 only
        Row(u=2, t=0, ty="a"),
        Row(u=2, t=50, ty="b"),
        Row(u=2, t=200, ty="c"),
        # u3: b before the anchor -> depth 1 only
        Row(u=3, t=100, ty="a"),
        Row(u=3, t=50, ty="b"),
        # u4: no anchor at all
        Row(u=4, t=0, ty="b"),
        Row(u=4, t=1, ty="c"),
    ]
    out = {
        (r["depth"], r["step_type"]): r["n_users"]
        for r in window_funnel(
            spark.createDataFrame(rows), "u", "t", "ty", ["a", "b", "c"], window=W
        ).collect()
    }
    assert out == {(1, "a"): 3, (2, "b"): 2, (3, "c"): 1}


def test_window_funnel_greedy_earliest_is_not_lossy(spark):
    from manufacturing_data_integration_tool_spark.ops.temporal import (
        window_funnel,
    )

    # The earliest b (t=5) still leaves room for c at t=8; a later-b-only
    # strategy would too — greedy must reach depth 3.
    rows = [
        Row(u=1, t=0, ty="a"),
        Row(u=1, t=5, ty="b"),
        Row(u=1, t=7, ty="b"),
        Row(u=1, t=8, ty="c"),
    ]
    out = {
        r["depth"]: r["n_users"]
        for r in window_funnel(
            spark.createDataFrame(rows), "u", "t", "ty", ["a", "b", "c"], window=10
        ).collect()
    }
    assert out[3] == 1


def test_window_funnel_rejects_short_chain(spark):
    from manufacturing_data_integration_tool_spark.ops.temporal import (
        window_funnel,
    )

    with pytest.raises(ValueError, match="chain"):
        window_funnel(
            spark.createDataFrame([Row(u=1, t=0, ty="a")]),
            "u",
            "t",
            "ty",
            ["a"],
            window=10,
        )


def test_blocking_audit_counts_by_hand(spark):
    from manufacturing_data_integration_tool_spark.ops.dedup import (
        blocking_audit,
    )

    # truth groups: {1,2,3} share T1 (3 pairs), {4,5} share T2 (1 pair).
    # scheme "good" blocks exactly on truth; scheme "coarse" puts
    # everyone in one block (covers all, costs C(5,2)=10);
    # scheme "bad" splits truth groups (covers only pair (1,2)).
    rows = [
        Row(id=1, truth="T1", good="T1", coarse="x", bad="p"),
        Row(id=2, truth="T1", good="T1", coarse="x", bad="p"),
        Row(id=3, truth="T1", good="T1", coarse="x", bad="q"),
        Row(id=4, truth="T2", good="T2", coarse="x", bad="r"),
        Row(id=5, truth="T2", good="T2", coarse="x", bad="s"),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r["scheme"]: r
        for r in blocking_audit(
            df,
            {
                "good": F.col("good"),
                "coarse": F.col("coarse"),
                "bad": F.col("bad"),
            },
            F.col("truth"),
        ).collect()
    }
    assert all(r["true_pairs"] == 4 and r["n_rows"] == 5 for r in out.values())
    g, c, b = out["good"], out["coarse"], out["bad"]
    assert g["candidate_pairs"] == 4 and g["true_covered"] == 4
    assert g["max_block"] == 3 and g["n_blocks_multi"] == 2
    assert c["candidate_pairs"] == 10 and c["true_covered"] == 4
    assert c["reduction_x1e6"] == 0  # one giant block reduces nothing
    assert b["candidate_pairs"] == 1 and b["true_covered"] == 1
    # reduction for "good": 1 - 4/10 = 0.6
    assert g["reduction_x1e6"] == 600000


def test_flesch_reading_ease_by_hand(spark):
    from manufacturing_data_integration_tool_spark.ops.text import (
        flesch_reading_ease,
    )

    rows = [
        Row(doc_id=1, text="The cat sat. The dog ran!"),
        Row(doc_id=2, text="12345 --- !!!"),  # zero words -> dropped
    ]
    out = flesch_reading_ease(spark.createDataFrame(rows), "text").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (6, 2, 6)
    expect = math.floor(
        (206.835 - 1.015 * (6.0 / 2.0) - 84.6 * (6.0 / 6.0)) * 1000.0
    )
    assert r["flesch_x1000"] == expect


def test_kneser_ney_bigrams_by_hand(spark):
    from manufacturing_data_integration_tool_spark.ops.text import (
        kneser_ney_bigrams,
    )

    rows = [Row(doc_id=1, text="a b a b a c")]
    out = {
        (r["w1"], r["w2"]): r
        for r in kneser_ney_bigrams(
            spark.createDataFrame(rows), "text", min_count=1
        ).collect()
    }
    # bigrams: ab x2, ba x2, ac x1 -> T=3 types
    ab = out[("a", "b")]
    assert ab["c"] == 2 and ab["c_w1"] == 3 and ab["n_follow"] == 2
    assert ab["n_cont"] == 1 and ab["t_types"] == 3
    expect = math.floor(
        ((2.0 - 0.75) / 3.0 + (0.75 * 2.0 / 3.0) * (1.0 / 3.0)) * 1e9
    )
    assert ab["pkn_x1e9"] == expect
    # continuation mass: the three P(.|a) entries (ab, ac + unseen mass)
    ac = out[("a", "c")]
    assert ac["c"] == 1 and ac["n_cont"] == 1


def test_kneser_ney_min_count_filters_output_not_statistics(spark):
    from manufacturing_data_integration_tool_spark.ops.text import (
        kneser_ney_bigrams,
    )

    rows = [Row(doc_id=1, text="a b a b a c")]
    out = kneser_ney_bigrams(
        spark.createDataFrame(rows), "text", min_count=2
    ).collect()
    # only ab/ba published, but t_types still counts ac
    assert sorted((r["w1"], r["w2"]) for r in out) == [("a", "b"), ("b", "a")]
    assert all(r["t_types"] == 3 for r in out)


def test_ks_pairwise_by_hand(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import (
        ks_pairwise,
    )

    rows = [Row(g="a", v=x) for x in [1, 2, 3]] + [
        Row(g="b", v=x) for x in [2, 3, 4]
    ]
    r = ks_pairwise(spark.createDataFrame(rows), "g", "v").collect()[0]
    assert (r["group_a"], r["group_b"]) == ("a", "b")
    assert r["n_a"] == 3 and r["n_b"] == 3
    # F_a - F_b maxes at v in {1,2,3}: |c_a*n_b - c_b*n_a| = 3 -> D = 1/3
    assert r["d_num"] == 3
    assert r["d_x1e6"] == math.floor(1e6 * 3 / 9)


def test_gini_coefficient_extremes(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import (
        gini_coefficient,
    )

    eq = spark.createDataFrame([Row(k=i, x=5) for i in range(4)])
    assert gini_coefficient(eq, "k", "x").collect()[0]["gini_x1e9"] == 0
    conc = spark.createDataFrame(
        [Row(k=1, x=0), Row(k=2, x=0), Row(k=3, x=0), Row(k=4, x=10)]
    )
    r = gini_coefficient(conc, "k", "x").collect()[0]
    # all mass on one of 4 keys -> G = (n-1)/n = 0.75
    assert r["gini_x1e9"] == 750_000_000 and r["total"] == 10


def test_conformal_threshold_coverage_guarantee(spark):
    """Split conformal's defining property: empirical test coverage is
    close to (and concentrated above) 1 - alpha = 0.9 on exchangeable
    data. The hash split is deterministic, so this is a fixed number."""
    import __spark_entry__ as e

    r = e.q235_conformal_threshold(spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n_cal"] > 0 and r["n_test"] > 0
    assert r["n_covered"] <= r["n_test"]
    # finite-sample wiggle: allow 85% on the small driver slice
    assert r["coverage_x1e6"] >= 850_000


def test_cuped_theta_is_global_and_means_consistent(spark):
    import __spark_entry__ as e

    rows = e.q236_cuped_adjustment(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 2
    # theta is a corpus-level constant: identical on both arm rows
    assert rows[0]["theta_x1e9"] == rows[1]["theta_x1e9"]
    for r in rows:
        assert r["mean_y_x1e6"] == math.floor(
            1e6 * r["sum_y_cents"] / r["n_users"]
        )


def test_trimmed_mean_by_hand(spark):
    import datetime as dt
    from manufacturing_data_integration_tool_spark.ops.stats import (
        trimmed_mean,
    )

    # 20 values 1..19 plus a 1000 outlier; 5% trim drops rank 1 and rank 20
    rows = [
        Row(g="a", eid=i, v=float(x))
        for i, x in enumerate(list(range(1, 20)) + [1000])
    ]
    r = trimmed_mean(
        spark.createDataFrame(rows), ["g"], "v", "eid", trim_pct=5
    ).collect()[0]
    assert r["n"] == 20 and r["n_kept"] == 18
    kept = list(range(2, 20))  # outlier and minimum trimmed away
    assert r["mean_x1e6"] == math.floor(1e6 * sum(kept) / len(kept))


def test_shapley_efficiency_axiom(spark):
    """Sum of Shapley values must equal v(all channels) - v(empty set) —
    the efficiency axiom, checked on real driver data (this exact
    property caught a dropped-coalition bug in the first cut)."""
    import duckdb
    import __spark_entry__ as e

    rows = e.q237_shapley_attribution(spark, "/root/testdata/sf0.001").collect()
    total = sum(r["shapley_x6e12"] for r in rows)
    con = duckdb.connect()
    con.execute(
        "create view events as select * from "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    vn, ve = con.execute(
        """WITH u1 AS (SELECT user_id, MIN(epoch_ns(ts)) AS p_ts
                       FROM events WHERE event_type='purchase' GROUP BY 1),
        t AS (SELECT e.user_id, e.event_type AS ty, epoch_ns(e.ts) AS t, u1.p_ts
              FROM events e LEFT JOIN u1 USING (user_id)
              WHERE e.event_type IN ('click','signup','view')),
        base AS (SELECT user_id, ty, p_ts FROM t WHERE p_ts IS NULL OR t < p_ts
                 UNION ALL SELECT user_id, NULL, p_ts FROM u1),
        pu AS (SELECT user_id,
                      COALESCE(string_agg(DISTINCT ty, ',' ORDER BY ty), '') AS s,
                      (MAX(p_ts) IS NOT NULL) AS conv FROM base GROUP BY 1),
        st AS (SELECT s, COUNT(*) AS u, SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS c
               FROM pu GROUP BY 1)
        SELECT COALESCE(MAX(CASE WHEN s = 'click,signup,view'
                        THEN CAST(c AS DOUBLE)/u END), 0.0),
               COALESCE(MAX(CASE WHEN s = '' THEN CAST(c AS DOUBLE)/u END), 0.0)
        FROM st"""
    ).fetchone()
    # each of the 12 terms floors at 1e-12, so allow 12 units of slack
    assert abs(total - round((vn - ve) * 6e12)) <= 12


def test_runs_test_alternating_and_monotone(spark):
    """q245's runs logic on the driver data must satisfy the identity
    n_runs <= n_days and n_above + n_below == n_days; a strictly
    increasing series centered on its mean has exactly 2 runs."""
    import __spark_entry__ as e

    for r in e.q245_runs_test(spark, "/root/testdata/sf0.001").collect():
        assert r["n_above"] + r["n_below"] == r["n_days"]
        assert 1 <= r["n_runs"] <= r["n_days"]


def test_supplier_scorecard_blend_is_exact(spark):
    import __spark_entry__ as e

    rows = e.q246_supplier_scorecard(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["score_x1e6"] == (
            50 * r["ontime_x1e6"] + 30 * r["kept_x1e6"] + 20 * r["volume_x1e6"]
        ) // 100
        assert 0 <= r["ontime_x1e6"] <= 1_000_000


def test_hazard_table_invariants(spark):
    """Life-table identities: at_risk is non-increasing in t, hazard is
    in [0, 1e6], and failures never exceed the at-risk pool."""
    import __spark_entry__ as e

    rows = sorted(
        e.q247_hazard_table(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["t_days"],
    )
    assert rows
    prev = None
    for r in rows:
        assert 0 < r["n_fail"] <= r["at_risk"]
        assert 0 <= r["hazard_x1e6"] <= 1_000_000
        if prev is not None:
            assert r["at_risk"] <= prev
        prev = r["at_risk"]


def test_did_estimator_identity(spark):
    import __spark_entry__ as e

    r = e.q248_did_estimator(spark, "/root/testdata/sf0.001").collect()[0]
    # DiD reproduces from its own published cells within quantization
    approx = (r["treat_post_x1e6"] - r["treat_pre_x1e6"]) - (
        r["ctrl_post_x1e6"] - r["ctrl_pre_x1e6"]
    )
    assert abs(r["did_x1e6"] - approx) <= 4  # 4 floors of 1e-6 slack


def test_price_index_base_month_is_unity(spark):
    """Laspeyres identity: the base month's index is exactly 1.0 (num
    and den terms coincide there)."""
    import __spark_entry__ as e

    rows = sorted(
        e.q249_price_index(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["month"],
    )
    assert rows[0]["laspeyres_x1e6"] == 1_000_000
    assert rows[0]["num_q"] == rows[0]["den_q"]


def test_term_burstiness_vmr_bounds(spark):
    """VMR over all docs (zeros included) is >= the Poisson floor minus
    mean (variance of a nonneg integer var with given mean is minimized
    by the two-point distribution): concretely VMR >= 1 - mean, and df
    respects the publish filter."""
    import __spark_entry__ as e

    rows = e.q250_term_burstiness(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["df"] >= 20
        assert r["sxx"] >= r["sx"]  # integer counts: x^2 >= x


def test_covariate_balance_hash_split_is_balanced(spark):
    """The md5 arm split is as-good-as-random: |SMD| for pre-period
    covariates must sit near the conventional 0.1 imbalance bar at
    sf0.01's user count (sf0.001 has ~15 users — pure sampling noise
    dominates there, so the balance claim is only testable at scale)."""
    import __spark_entry__ as e

    rows = e.q251_covariate_balance(spark, "/root/testdata/sf0.01").collect()
    assert {r["covariate"] for r in rows} == {"pre_spend", "pre_events"}
    for r in rows:
        assert abs(r["smd_x1e6"]) < 250_000, r


def test_embedding_norms_are_positive_and_bounded(spark):
    import __spark_entry__ as e

    rows = e.q252_embedding_norms(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 < r["min_norm2_x1e6"] <= r["mean_norm2_x1e6"] <= r["max_norm2_x1e6"]


def test_seasonality_strength_bounds(spark):
    """1 - SSE/SST lies in [0, 1] up to quantization: within-weekday
    variance can never exceed total variance (SSE <= SST by the ANOVA
    decomposition)."""
    import __spark_entry__ as e

    rows = e.q253_seasonality_strength(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["sse_q"] <= r["sst_q"]
        assert -10 <= r["strength_x1e6"] <= 1_000_000  # floor slack below 0


def test_conversion_ztest_degenerate_pool_is_zero(spark):
    import __spark_entry__ as e

    r = e.q254_conversion_ztest(spark, "/root/testdata/sf0.001").collect()[0]
    # sf0.001: every user converts -> zero-variance pool -> z pinned to 0
    if r["k0"] + r["k1"] == r["n0"] + r["n1"]:
        assert r["z_x1e6"] == 0
    assert 0 <= r["rate0_x1e6"] <= 1_000_000


def test_langid_confusion_matrix_invariants(spark):
    """Structural invariants of the confusion audit: per-true-lang
    accuracy equals the diagonal share of that row's mass, and the
    published accuracy is constant within a true lang. (The driver
    corpus is synthetic — its lang LABELS need not match the text, and
    the audit exists precisely to expose that: on this data 'es' rows
    classify as 'en' with 0 accuracy, which the matrix reports
    faithfully.)"""
    import math

    import __spark_entry__ as e

    rows = e.q255_langid_confusion(spark, "/root/testdata/sf0.01").collect()
    by_true = {}
    for r in rows:
        by_true.setdefault(r["true_lang"], []).append(r)
    for lang, rs in by_true.items():
        total = sum(r["n"] for r in rs)
        diag = sum(r["n"] for r in rs if r["predicted_lang"] == lang)
        accs = {r["true_lang_accuracy_x1e6"] for r in rs}
        assert len(accs) == 1  # constant within the true lang
        assert accs.pop() == math.floor(1e6 * diag / total)


def test_cold_start_counts_are_consistent(spark):
    import __spark_entry__ as e

    r = e.q256_cold_start_audit(spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 <= r["n_cold_users"] <= r["n_test_users"]
    assert 0 <= r["n_cold_events"] <= r["n_test_events"]
    assert 0 <= r["cold_user_share_x1e6"] <= 1_000_000


def test_screen_kappa_identities(spark):
    """Kappa's defining identities on the published cells: po recomputes
    from the diagonal, kappa from (po, pe), and cells partition n."""
    import __spark_entry__ as e

    r = e.q257_screen_kappa(spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n11"] + r["n10"] + r["n01"] + r["n00"] == r["n"]
    assert r["po_x1e6"] == math.floor(1e6 * (r["n11"] + r["n00"]) / r["n"])
    assert -1_000_000 <= r["kappa_x1e6"] <= 1_000_000


def test_decile_lift_partition_and_weighted_mean(spark):
    """Deciles partition the users, and the lift-weighted user shares
    recompose the global rate (Σ n_conv == k)."""
    import __spark_entry__ as e

    rows = e.q258_decile_lift(spark, "/root/testdata/sf0.01").collect()
    assert sorted(r["decile"] for r in rows) == list(range(1, 11))
    n = sum(r["n_users"] for r in rows)
    k = sum(r["n_conv"] for r in rows)
    assert n > 0 and 0 <= k <= n
    for r in rows:
        assert r["rate_x1e6"] == math.floor(1e6 * r["n_conv"] / r["n_users"])


def test_revenue_drawdown_invariants(spark):
    import __spark_entry__ as e

    for r in e.q259_revenue_drawdown(
        spark, "/root/testdata/sf0.001"
    ).collect():
        assert r["max_drawdown"] == r["peak_cum"] - r["trough_cum"]
        assert r["max_drawdown"] >= 0


def test_spearman_rho_hand_computed(spark):
    """Perfect monotone -> 1e6; perfect inverse -> -1e6; constant column
    -> NULL; a tie-heavy fixture matches scipy-convention hand math."""
    from manufacturing_data_integration_tool_spark.ops.stats import spearman_rho

    mono = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 35), (4, 99)], "x long, y long"
    )
    assert spearman_rho(mono, "x", "y").collect()[0]["rho_x1e6"] == 1_000_000
    inv = spark.createDataFrame(
        [(1, 99), (2, 35), (3, 20), (4, 10)], "x long, y long"
    )
    assert spearman_rho(inv, "x", "y").collect()[0]["rho_x1e6"] == -1_000_000
    const = spark.createDataFrame([(1, 5), (2, 5), (3, 5)], "x long, y long")
    assert spearman_rho(const, "x", "y").collect()[0]["rho_x1e6"] is None
    # ties: x = [1,1,2], y = [1,2,2]; avg ranks x: 1.5,1.5,3; y: 1,2.5,2.5
    # pearson on ranks = 0.5 exactly
    ties = spark.createDataFrame([(1, 1), (1, 2), (2, 2)], "x long, y long")
    assert ties.count() == 3
    r = spearman_rho(ties, "x", "y").collect()[0]
    assert r["rho_x1e6"] == 500_000


def test_poisson_bootstrap_mean_properties(spark):
    """Replicate means must hover around the true mean (Poisson(1)
    weights are unbiased), weights must follow the shared literal
    thresholds exactly, and the draw must be reproducible."""
    import hashlib

    from manufacturing_data_integration_tool_spark.ops.stats import (
        POISSON1_CUM,
        poisson_bootstrap_mean,
    )

    rows = [(i, 100 + (i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long")
    from pyspark.sql import functions as FF

    out = poisson_bootstrap_mean(
        df, "k", FF.col("v"), n_replicates=16
    ).collect()
    assert len(out) == 16
    true_mean = sum(v for _, v in rows) / len(rows)
    means = [r["mean_x1e4"] / 1e4 for r in out if r["mean_x1e4"] is not None]
    assert all(abs(m - true_mean) < 2.0 for m in means)  # tight: var ~ n^-1/2
    # reproducibility + exact weight recompute for one (row, replicate)
    h = hashlib.md5(b"7:boot:3").hexdigest()[:13]
    u = (int(h, 16) + 0.5) / float(1 << 52)
    w = sum(1 for c in POISSON1_CUM if u > c)
    out2 = poisson_bootstrap_mean(df, "k", FF.col("v"), n_replicates=16).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    assert 0 <= w <= 8


def test_revenue_acf_bounds(spark, sf_dir):
    import __spark_entry__ as entry

    rows = entry.q281_revenue_acf(spark, sf_dir).collect()
    assert {r["lag"] for r in rows} == set(range(1, 8))
    for r in rows:
        if r["acf_x1e6"] is not None:
            assert -1_000_000 <= r["acf_x1e6"] <= 1_000_000
        assert r["n_pairs"] > 0


def test_eb_shrunk_rates_pulls_small_samples(spark):
    """A 1-of-2 entity (raw 50%) must shrink far toward the pooled mean;
    a 500-of-5000 entity (raw 10%) barely moves. Shrunk estimates stay
    between the raw rate and the pooled mean, and kappa >= 1."""
    from manufacturing_data_integration_tool_spark.ops.stats import (
        eb_shrunk_rates,
    )

    rows = [("tiny", 1, 2), ("big", 500, 5000), ("mid", 30, 300),
            ("low", 5, 100), ("hi", 40, 200)]
    df = spark.createDataFrame(rows, "s string, k long, n long")
    out = {r["s"]: r for r in eb_shrunk_rates(df, ["s"], "k", "n").collect()}
    pooled = sum(k for _, k, _ in rows) / sum(n for _, _, n in rows)
    tiny_raw, tiny_shr = 0.5, out["tiny"]["shrunk_x1e6"] / 1e6
    big_raw, big_shr = 0.1, out["big"]["shrunk_x1e6"] / 1e6
    # the 2-trial entity moves a LARGER FRACTION of its gap to the pooled
    # mean than the 5000-trial entity (the defining EB property)
    tiny_pull = 1 - abs(tiny_shr - pooled) / abs(tiny_raw - pooled)
    big_pull = 1 - abs(big_shr - pooled) / abs(big_raw - pooled)
    assert tiny_pull > big_pull * 10
    assert abs(big_shr - big_raw) < 0.002  # high-volume barely moves
    for r in out.values():
        lo, hi = sorted([r["raw_x1e6"] / 1e6, pooled])
        assert lo - 1e-6 <= r["shrunk_x1e6"] / 1e6 <= hi + 1e-6
        assert r["kappa_x1e6"] >= 1_000_000


def test_eb_shrunk_rates_single_entity_full_pool(spark):
    """One entity -> the g<=1 guard: kappa = max_kappa, no NaN."""
    from manufacturing_data_integration_tool_spark.ops.stats import (
        eb_shrunk_rates,
    )

    df = spark.createDataFrame([("only", 3, 10)], "s string, k long, n long")
    r = eb_shrunk_rates(df, ["s"], "k", "n").collect()[0]
    assert r["kappa_x1e6"] == 10_000_000_000
    # pooled mean == own rate, so shrinkage is a fixed point at 0.3
    assert abs(r["shrunk_x1e6"] - 300_000) <= 1


def test_loglog_slope_recovers_exponent(spark):
    """y = x^-2 exactly -> slope -2 on the ln lattice; a constant-x
    group is degenerate -> NULL."""
    from manufacturing_data_integration_tool_spark.ops.stats import (
        loglog_slope,
    )

    rows = [("pow", float(x), float(x) ** -2.0) for x in (2, 3, 5, 7, 11)]
    rows += [("flat", 4.0, float(y)) for y in (1, 2, 3)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r for r in loglog_slope(
        df, "x", "y", group_cols=["g"]
    ).collect()}
    assert abs(out["pow"]["slope_x1e6"] - (-2_000_000)) <= 5  # lattice noise
    assert out["flat"]["slope_x1e6"] is None


def test_nelson_aalen_monotone_and_exact(spark, sf_dir):
    """H(t) is non-decreasing, each increment equals (d*1e9) div n of
    q247's published life-table row, and NA >= -ln(KM) would hold in
    real arithmetic (we pin the exact integer recompute instead)."""
    import __spark_entry__ as entry

    rows = sorted(
        entry.q299_nelson_aalen(spark, sf_dir).collect(),
        key=lambda r: r["t_days"],
    )
    prev = 0
    for r in rows:
        inc = (r["n_fail"] * 1_000_000_000) // r["at_risk"]
        assert r["na_cumhaz_x1e9"] == prev + inc
        prev = r["na_cumhaz_x1e9"]
    assert prev > 0


def test_kruskal_wallis_matches_textbook(spark):
    """Three groups with ties: H recomputed in pure Python with average
    ranks must match the operator's doubled-rank integer pipeline."""
    from manufacturing_data_integration_tool_spark.ops.stats import (
        kruskal_wallis,
    )

    data = {"a": [1, 2, 2, 5], "b": [2, 3, 7, 7], "c": [4, 7, 8, 9]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    out = kruskal_wallis(df, "g", "v").collect()[0]

    # pure-Python twin with textbook average ranks
    allv = sorted(v for vs in data.values() for v in vs)
    n = len(allv)
    rank = {}
    i = 0
    while i < n:
        j = i
        while j < n and allv[j] == allv[i]:
            j += 1
        rank[allv[i]] = (i + 1 + j) / 2.0
        i = j
    s = sum(
        (sum(rank[v] for v in vs)) ** 2 / len(vs) for vs in data.values()
    )
    h = 12.0 * s / (n * (n + 1)) - 3.0 * (n + 1)
    from collections import Counter

    cnt = Counter(allv)
    c = 1.0 - sum(t**3 - t for t in cnt.values()) / (n**3 - n)
    assert out["n_total"] == n and out["n_groups"] == 3
    # operator's term uses an exact integer div (truncation < 1 per
    # group against an N^3-scale sum) -> tiny, bounded disagreement
    assert abs(out["h_x1e6"] - round(h * 1e6)) <= 25
    assert abs(out["h_adj_x1e6"] - round(h / c * 1e6)) <= 25


def test_kruskal_wallis_all_tied_is_null(spark):
    """Every value identical -> tie correction C = 0 -> adjusted H NULL."""
    from manufacturing_data_integration_tool_spark.ops.stats import (
        kruskal_wallis,
    )

    df = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 5), ("b", 5)], "g string, v long"
    )
    out = kruskal_wallis(df, "g", "v").collect()[0]
    assert out["h_adj_x1e6"] is None


def test_bh_step_up_textbook_stepup(spark):
    """BH's defining behavior: the max rank k whose statistic clears its
    cut is found, and EVERY rank <= k is rejected — including a rank
    whose own statistic missed its cut (the step-up, not step-down,
    rule). NULL statistics are never ranked or rejected."""
    from manufacturing_data_integration_tool_spark.ops.evaluation import (
        bh_step_up,
    )

    # thresholds for ranks 1..4; stats: rank1=90(>=80 hit), rank2=55
    # (<60 miss), rank3=50(>=40 hit -> k=3), rank4=10(<20 miss)
    df = spark.createDataFrame(
        [("t1", 90), ("t2", 55), ("t3", 50), ("t4", 10), ("t5", None)],
        "test_id string, stat long",
    )
    out = {
        r["test_id"]: r
        for r in bh_step_up(df, ["test_id"], "stat", [80, 60, 40, 20]).collect()
    }
    assert [out[f"t{i}"]["bh_rank"] for i in (1, 2, 3, 4)] == [1, 2, 3, 4]
    assert out["t1"]["rejected"] and out["t3"]["rejected"]
    assert out["t2"]["rejected"]  # step-up: below k, rejected despite miss
    assert not out["t4"]["rejected"]
    assert out["t5"]["bh_rank"] is None and not out["t5"]["rejected"]


def test_bh_step_up_nothing_clears(spark):
    """No statistic clears any cut -> k = 0 -> nothing rejected."""
    from manufacturing_data_integration_tool_spark.ops.evaluation import (
        bh_step_up,
    )

    df = spark.createDataFrame(
        [("a", 5), ("b", 3)], "test_id string, stat long"
    )
    out = bh_step_up(df, ["test_id"], "stat", [100, 90]).collect()
    assert all(not r["rejected"] for r in out)


def test_bh_step_up_family_overflow_raises(spark):
    """r8 advisor note: if the realized test family exceeds the
    compile-time m (category cardinality grew at a larger SF), the
    per-rank cuts for ranks <= m become anticonservative — the plan
    must fail loudly (raise_error) instead of silently treating the
    overflow rows as never-rejectable."""
    import pytest

    from manufacturing_data_integration_tool_spark.ops.evaluation import (
        bh_step_up,
    )

    df = spark.createDataFrame(
        [("a", 90), ("b", 70), ("c", 50)], "test_id string, stat long"
    )
    with pytest.raises(Exception, match="exceeds the compile-time family"):
        bh_step_up(df, ["test_id"], "stat", [80, 60]).collect()


def test_dunn_pairwise_matches_python_twin(spark):
    """Pairwise tie-corrected Dunn z recomputed with textbook average
    ranks must match the doubled-rank integer pipeline on the lattice."""
    import math

    from manufacturing_data_integration_tool_spark.ops.stats import (
        dunn_pairwise,
    )

    data = {"a": [1, 2, 2, 5], "b": [2, 3, 7, 7], "c": [4, 7, 8, 9]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        (r["group_a"], r["group_b"]): r
        for r in dunn_pairwise(df, "g", "v").collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}

    allv = sorted(v for vs in data.values() for v in vs)
    n = len(allv)
    rank, i = {}, 0
    while i < n:
        j = i
        while j < n and allv[j] == allv[i]:
            j += 1
        rank[allv[i]] = (i + 1 + j) / 2.0
        i = j
    from collections import Counter

    cnt = Counter(allv)
    tie = sum(t**3 - t for t in cnt.values())
    var0 = n * (n + 1) / 12.0 - tie / (12.0 * (n - 1))
    for (ga, gb), r in out.items():
        ra = sum(rank[v] for v in data[ga]) / len(data[ga])
        rb = sum(rank[v] for v in data[gb]) / len(data[gb])
        z = (ra - rb) / math.sqrt(
            var0 * (1.0 / len(data[ga]) + 1.0 / len(data[gb]))
        )
        assert abs(r["abs_z_x1e6"] - round(abs(z) * 1e6)) <= 2, (ga, gb)
        assert r["n_a"] == len(data[ga]) and r["n_b"] == len(data[gb])


def test_dunn_all_tied_is_null(spark):
    """Every value identical -> tie-corrected variance 0 -> z NULL."""
    from manufacturing_data_integration_tool_spark.ops.stats import (
        dunn_pairwise,
    )

    df = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 5), ("b", 5)], "g string, v long"
    )
    out = dunn_pairwise(df, "g", "v").collect()
    assert len(out) == 1 and out[0]["abs_z_x1e6"] is None


def test_brown_forsythe_matches_python_twin(spark):
    """F recomputed in pure Python with lower medians and the same
    per-group integer-div terms must match exactly; equal-spread NULL
    guard on a degenerate case."""
    from manufacturing_data_integration_tool_spark.ops.stats import (
        brown_forsythe,
    )

    data = {"a": [1, 2, 3, 9, 10], "b": [4, 5, 5, 6], "c": [1, 1, 8, 8, 8]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    out = brown_forsythe(df, "g", "v").collect()[0]

    def lower_median(vs):
        s = sorted(vs)
        n = len(s)
        # smallest v with 2*cum >= n
        cum = 0
        from collections import Counter

        for val in sorted(set(s)):
            cum += Counter(s)[val]
            if 2 * cum >= n:
                return val

    t = g1 = g2 = 0
    n_total = sum(len(vs) for vs in data.values())
    k = len(data)
    for vs in data.values():
        med = lower_median(vs)
        zs = [abs(v - med) for v in vs]
        s1, s2 = sum(zs), sum(z * z for z in zs)
        t += (s1 * s1) // len(zs)
        g1 += s1
        g2 += s2
    ssb = t - (g1 * g1) // n_total
    ssw = g2 - t
    import math

    expected = math.floor(
        ((n_total - k) * ssb) / ((k - 1) * ssw) * 1e6 + 0.5
    )
    assert out["n_total"] == n_total and out["n_groups"] == k
    assert out["bf_f_x1e6"] == expected


def test_brown_forsythe_zero_within_spread_is_null(spark):
    """Every deviation identical within groups -> SSW* = 0 -> NULL."""
    from manufacturing_data_integration_tool_spark.ops.stats import (
        brown_forsythe,
    )

    df = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 7), ("b", 7)], "g string, v long"
    )
    assert brown_forsythe(df, "g", "v").collect()[0]["bf_f_x1e6"] is None


def test_cliffs_delta_textbook(spark):
    """Full dominance -> delta +/-1; overlapping groups match the brute
    pairwise count; ties count in neither direction."""
    from manufacturing_data_integration_tool_spark.ops.stats import (
        cliffs_delta_pairwise,
    )

    data = {"lo": [1, 2, 3], "hi": [10, 11], "mid": [2, 3, 10]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        (r["group_a"], r["group_b"]): r
        for r in cliffs_delta_pairwise(df, "g", "v").collect()
    }

    import math

    def brute(xs, ys):
        gt = sum(1 for x in xs for y in ys if x > y)
        lt = sum(1 for x in xs for y in ys if x < y)
        return math.floor((gt - lt) / (len(xs) * len(ys)) * 1e6 + 0.5)

    for (ga, gb), r in out.items():
        assert r["delta_x1e6"] == brute(data[ga], data[gb]), (ga, gb)
    assert out[("hi", "lo")]["delta_x1e6"] == 1_000_000
    assert out[("hi", "lo")]["magnitude"] == "large"
    assert out[("hi", "mid")]["magnitude"] != "negligible"


def test_oneway_anova_f_matches_numpy_twin(spark):
    """Three unequal groups: F recomputed from numpy group means must
    match within the documented per-group integer-div truncation."""
    import math

    from manufacturing_data_integration_tool_spark.ops.stats import (
        oneway_anova_f,
    )

    # values live on the caller's integer lattice — scale up so the
    # documented <1-per-group term truncation is negligible vs SS scale
    data = {
        "a": [1000, 2000, 3000, 4000],
        "b": [4000, 5000, 7000],
        "c": [8000, 9000, 12000, 15000, 11000],
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    out = oneway_anova_f(df, "g", "v").collect()[0]
    allv = [v for vs in data.values() for v in vs]
    n, k = len(allv), len(data)
    gm = sum(allv) / n
    ssb = sum(len(vs) * (sum(vs) / len(vs) - gm) ** 2 for vs in data.values())
    ssw = sum(
        sum((v - sum(vs) / len(vs)) ** 2 for v in vs)
        for vs in data.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert out["n_total"] == n and out["n_groups"] == k
    assert abs(out["f_x1e6"] - math.floor(f * 1e6 + 0.5)) <= 25


def test_oneway_anova_f_zero_within_is_null(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import (
        oneway_anova_f,
    )

    df = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 9), ("b", 9)], "g string, v long"
    )
    assert oneway_anova_f(df, "g", "v").collect()[0]["f_x1e6"] is None


def test_welch_t_matches_python_twin(spark):
    import math

    from manufacturing_data_integration_tool_spark.ops.stats import (
        welch_t_test,
    )

    a = [12, 15, 9, 20, 14, 13]
    b = [22, 19, 25, 28]
    rows = [("x", v) for v in a] + [("y", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v long")
    out = welch_t_test(df, "g", "x", "y", "v").collect()[0]
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = sum((v - ma) ** 2 for v in a) / (na - 1) / na
    vb = sum((v - mb) ** 2 for v in b) / (nb - 1) / nb
    t = (ma - mb) / math.sqrt(va + vb)
    dfree = (va + vb) ** 2 / (va**2 / (na - 1) + vb**2 / (nb - 1))
    assert out["n_a"] == na and out["n_b"] == nb
    assert abs(out["t_x1e6"] - math.floor(t * 1e6 + 0.5)) <= 1
    assert abs(out["df_x1e6"] - math.floor(dfree * 1e6 + 0.5)) <= 1


def test_seasonal_mann_kendall_cycle_blind(spark):
    """A pure weekly cycle with NO drift: plain MK on the raw series is
    fooled into a big |S|, seasonal MK sums within-weekday comparisons
    and reports S = 0; adding a real monotone drift flips it to a
    significant increase."""
    import datetime

    from pyspark.sql import Row

    from manufacturing_data_integration_tool_spark.ops.stats import (
        seasonal_mann_kendall,
    )

    base = datetime.datetime(2024, 1, 1)
    cycle = [10, 20, 30, 40, 50, 60, 70]  # repeats exactly per weekday
    rows = [
        Row(k="a", ts=base + datetime.timedelta(days=i),
            v=float(cycle[i % 7]))
        for i in range(28)
    ]
    out = seasonal_mann_kendall(
        spark.createDataFrame(rows), "k", F.dayofweek(F.to_date("ts")),
        "ts", "v",
    ).collect()[0]
    assert out["n_seasons"] == 7 and out["s_stat"] == 0
    assert out["trend"] == "no_trend"

    rows2 = [
        Row(k="a", ts=base + datetime.timedelta(days=i),
            v=float(cycle[i % 7] + i))
        for i in range(28)
    ]
    out2 = seasonal_mann_kendall(
        spark.createDataFrame(rows2), "k", F.dayofweek(F.to_date("ts")),
        "ts", "v",
    ).collect()[0]
    # within every weekday the series is strictly increasing: S = 7 * C(4,2)
    assert out2["s_stat"] == 7 * 6
    assert out2["trend"] == "increasing"


def test_bartlett_matches_python_twin(spark):
    import math

    from manufacturing_data_integration_tool_spark.ops.stats import (
        bartlett_test,
    )

    data = {
        "a": [1200, 1500, 900, 2000, 1400],
        "b": [2200, 1900, 2500, 2800],
        "c": [500, 5200, 3100, 4400, 100, 2600],
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    out = bartlett_test(
        spark.createDataFrame(rows, "g string, v long"), "g", "v"
    ).collect()[0]
    n = sum(len(vs) for vs in data.values())
    k = len(data)

    def var(vs):
        m = sum(vs) / len(vs)
        return sum((v - m) ** 2 for v in vs) / (len(vs) - 1)

    sp2 = sum((len(vs) - 1) * var(vs) for vs in data.values()) / (n - k)
    num = (n - k) * math.log(sp2) - sum(
        (len(vs) - 1) * math.log(var(vs)) for vs in data.values()
    )
    c = 1 + (sum(1 / (len(vs) - 1) for vs in data.values()) - 1 / (n - k)) / (
        3 * (k - 1)
    )
    assert out["n_total"] == n and out["n_groups"] == k
    # ln-lattice + per-term floors -> tiny bounded drift
    assert abs(out["b_x1e6"] - math.floor(num / c * 1e6 + 0.5)) <= 50


def test_bartlett_zero_variance_group_is_null(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import (
        bartlett_test,
    )

    rows = [("a", 5), ("a", 5), ("b", 1), ("b", 9)]
    out = bartlett_test(
        spark.createDataFrame(rows, "g string, v long"), "g", "v"
    ).collect()[0]
    assert out["b_x1e6"] is None


def test_g_test_matches_python_twin(spark):
    import math
    from collections import Counter

    from manufacturing_data_integration_tool_spark.ops.stats import (
        g_test_independence,
    )

    pairs = [
        ("x", "p"), ("x", "p"), ("x", "q"), ("y", "p"),
        ("y", "q"), ("y", "q"), ("y", "q"), ("z", "p"), ("z", "q"),
    ]
    df = spark.createDataFrame(pairs, "a string, b string")
    out = g_test_independence(df, "a", "b").collect()[0]
    n = len(pairs)
    ct = Counter(pairs)
    rm = Counter(a for a, _ in pairs)
    cm = Counter(b for _, b in pairs)
    g = 2 * sum(
        o * math.log(o * n / (rm[a] * cm[b])) for (a, b), o in ct.items()
    )
    assert out["n"] == n and out["dof"] == (3 - 1) * (2 - 1)
    assert abs(out["g_x1e6"] - math.floor(g * 1e6 + 0.5)) <= 25


def test_jarque_bera_matches_numpy_twin(spark):
    """Skewness / excess kurtosis / JB recomputed with numpy population
    moments must match the exact-integer-moment pipeline on the
    lattice."""
    import math

    import numpy as np

    from manufacturing_data_integration_tool_spark.ops.stats import (
        jarque_bera,
    )

    vals = [3, 7, 7, 1, 9, 2, 2, 2, 8, 5, 5, 4, 1, 1, 6, 50]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v long")
    out = jarque_bera(df, "g", "v").collect()[0]
    x = np.array(vals, dtype=float)
    n = len(x)
    m2 = ((x - x.mean()) ** 2).mean()
    m3 = ((x - x.mean()) ** 3).mean()
    m4 = ((x - x.mean()) ** 4).mean()
    g1 = m3 / m2**1.5
    g2 = m4 / m2**2 - 3.0
    jb = n * (g1 * g1 / 6 + g2 * g2 / 24)
    assert out["n"] == n
    assert abs(out["skew_x1e9"] - math.floor(g1 * 1e9 + 0.5)) <= 2
    assert abs(out["exkurt_x1e9"] - math.floor(g2 * 1e9 + 0.5)) <= 2
    assert abs(out["jb_x1e6"] - math.floor(jb * 1e6 + 0.5)) <= 2


def test_jarque_bera_constant_group_is_null(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import (
        jarque_bera,
    )

    df = spark.createDataFrame(
        [("a", 5), ("a", 5), ("a", 5), ("b", 1), ("b", 9)],
        "g string, v long",
    )
    out = {r["g"]: r for r in jarque_bera(df, "g", "v").collect()}
    assert out["a"]["skew_x1e9"] is None and out["a"]["jb_x1e6"] is None
    # two distinct values: m3 = 0 by symmetry of n=2 -> skew exactly 0
    assert out["b"]["skew_x1e9"] == 0


def test_winsorized_mean_by_hand(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import (
        winsorized_mean,
    )

    # 20 values 1..19 plus a 1000 outlier; 5% winsor: k = 1, so rank 1
    # clamps to the rank-2 value (2) and rank 20 clamps to rank 19 (19).
    rows = [
        Row(g="a", eid=i, v=float(x))
        for i, x in enumerate(list(range(1, 20)) + [1000])
    ]
    r = winsorized_mean(
        spark.createDataFrame(rows), ["g"], "v", "eid", winsor_pct=5
    ).collect()[0]
    assert r["n"] == 20 and r["n_clamped"] == 2
    wvals = [2] + list(range(2, 20)) + [19]
    assert r["mean_x1e6"] == math.floor(1e6 * sum(wvals) / len(wvals))


def test_winsorized_mean_no_clamp_matches_plain_mean(spark):
    from manufacturing_data_integration_tool_spark.ops.stats import (
        winsorized_mean,
    )

    # n = 5 at 5% -> k = 0: no row clamps, result is the plain mean.
    rows = [Row(g="a", eid=i, v=float(x)) for i, x in enumerate([3, 1, 4, 1, 5])]
    r = winsorized_mean(
        spark.createDataFrame(rows), ["g"], "v", "eid", winsor_pct=5
    ).collect()[0]
    assert r["n"] == 5 and r["n_clamped"] == 0
    assert r["mean_x1e6"] == math.floor(1e6 * (14 / 5))


def test_holt_linear_matches_python_fold(spark):
    from manufacturing_data_integration_tool_spark.ops.temporal import (
        holt_linear,
    )

    series = [10.0, 12.0, 9.0, 15.0, 14.0, 20.0, 18.0, 25.0]
    rows = [Row(k="a", d=i, y=y) for i, y in enumerate(series)]
    out = holt_linear(
        spark.createDataFrame(rows), "k", "d", "y", alpha=0.5, beta=0.25
    ).collect()[0]
    l, b = series[0], 0.0
    for y in series[1:]:
        l_new = 0.5 * y + 0.5 * (l + b)
        b = 0.25 * (l_new - l) + 0.75 * b
        l = l_new
    assert out["n_periods"] == len(series)
    assert out["level_x1e6"] == math.floor(l * 1e6 + 0.5)
    assert out["trend_x1e6"] == math.floor(b * 1e6 + 0.5)
    assert out["forecast_h_x1e6"] == math.floor((l + 7.0 * b) * 1e6 + 0.5)


def test_holt_linear_constant_series_flat_forecast(spark):
    from manufacturing_data_integration_tool_spark.ops.temporal import (
        holt_linear,
    )

    rows = [Row(k="c", d=i, y=7.0) for i in range(10)]
    out = holt_linear(spark.createDataFrame(rows), "k", "d", "y").collect()[0]
    # constant input: level stays at the value, trend stays exactly 0
    assert out["level_x1e6"] == 7_000_000
    assert out["trend_x1e6"] == 0
    assert out["forecast_h_x1e6"] == 7_000_000


def test_log_rank_matches_bruteforce(spark):
    import random

    from manufacturing_data_integration_tool_spark.ops.temporal import (
        log_rank_test,
    )

    rng = random.Random(20260816)
    subj = [
        (rng.randint(0, 1), rng.randint(0, 12), rng.random() < 0.6)
        for _ in range(120)
    ]
    df = spark.createDataFrame(subj, "g int, t bigint, ev boolean")
    out = log_rank_test(df, "g", "t", "ev").collect()[0]
    # brute-force hypergeometric O/E/V over distinct failure times
    times = sorted({t for _, t, e in subj if e})
    o1 = e1 = v = 0.0
    e1_int = v_int = 0
    for t in times:
        n1 = sum(1 for g, tt, _ in subj if g == 1 and tt >= t)
        n0 = sum(1 for g, tt, _ in subj if g == 0 and tt >= t)
        d1 = sum(1 for g, tt, e in subj if g == 1 and tt == t and e)
        d0 = sum(1 for g, tt, e in subj if g == 0 and tt == t and e)
        d, n = d1 + d0, n1 + n0
        o1 += d1
        e1 += d * n1 / n
        e1_int += d * n1 * 10**9 // n
        if n > 1:
            v += d * (n - d) * n1 * n0 / (n * n * (n - 1))
            v_int += d * (n - d) * n1 * n0 * 10**9 // (n * n * (n - 1))
    assert out["o1"] == int(o1)
    assert out["e1_x1e9"] == e1_int
    assert out["var_x1e9"] == v_int
    chi2 = (out["o1"] - out["e1_x1e9"] / 1e9) ** 2 / (out["var_x1e9"] / 1e9)
    assert out["chi2_x1e6"] == math.floor(chi2 * 1e6 + 0.5)
    # lattice vs float recompute stays within the per-term truncation
    assert abs(e1_int / 1e9 - e1) < 1e-6 * len(times)
    assert abs(v_int / 1e9 - v) < 1e-6 * len(times)


def test_log_rank_single_arm_is_null(spark):
    from manufacturing_data_integration_tool_spark.ops.temporal import (
        log_rank_test,
    )

    df = spark.createDataFrame(
        [(1, 3, True), (1, 5, True), (1, 7, False)],
        "g int, t bigint, ev boolean",
    )
    r = log_rank_test(df, "g", "t", "ev").collect()[0]
    # one empty arm: every V-term is 0 -> statistic undefined
    assert r["n_subjects_g0"] == 0 and r["chi2_x1e6"] is None
