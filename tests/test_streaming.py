"""Streaming cofactor: event-time windows + watermark, and equivalence
with the batch aggregate when the stream completes."""

import tempfile

import pytest
from pyspark.sql import functions as F

from duckdb_imputation_spark.functions.triple import Triple
from duckdb_imputation_spark.operators.cofactor import sum_to_triple
from duckdb_imputation_spark.streaming import streaming_triple_parts


@pytest.fixture()
def event_rows(spark):
    rows = []
    for h in range(3):
        for i in range(20):
            rows.append(
                (f"2024-01-01 0{h}:{i:02d}:00", float(i % 5), (i % 3) + 1)
            )
    df = spark.createDataFrame(rows, "ts_s string, x double, k int").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "x", "k"
    )
    return df


def test_stream_matches_batch(spark, event_rows, tmp_path):
    src = str(tmp_path / "src")
    event_rows.write.parquet(src)
    stream = spark.readStream.schema(event_rows.schema).parquet(src)
    out = streaming_triple_parts(
        stream, ["x"], ["k"], ts_col="ts", window="1 hour", watermark="5 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("triples")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM triples").collect()
    # three hourly windows
    assert len({r["window_start"] for r in got}) == 3

    # ⊕-fold all windows → must equal the batch cofactor over everything
    t_stream = Triple.from_entries(got, 1, 1)
    t_batch = Triple.from_row(
        sum_to_triple(event_rows, ["x"], ["k"]).collect()[0]["triple"]
    )
    assert t_stream.to_dict() == t_batch.to_dict()

    # and each window's N is the per-hour row count
    per_window = {}
    for r in got:
        if r["part"] == "N":
            per_window[r["window_start"].hour] = int(r["val"])
    assert per_window == {0: 20, 1: 20, 2: 20}


def test_entry_fold_drops_null_key_and_trains():
    """Entry rows of x = [1, 2, 4, 3], k = [3, NULL, 5, 3], split over two
    windows: the fold drops the NULL category key (as ``from_row`` does),
    so the one-hot dictionary stays sortable and ``linreg_train`` runs."""
    from duckdb_imputation_spark.ml.linreg import linreg_train

    def e(part, i, j, k1, k2, val):
        return {"part": part, "i": i, "j": j, "k1": k1, "k2": k2, "val": val}

    windows = [
        # rows (1, 3), (2, NULL)
        [e("N", -1, -1, -1, -1, 2.0), e("lin", 0, -1, -1, -1, 3.0),
         e("quad", 0, 0, -1, -1, 5.0),
         e("lin_cat", 0, -1, 3, -1, 1.0), e("lin_cat", 0, -1, None, -1, 1.0),
         e("quad_num_cat", 0, 0, 3, -1, 1.0), e("quad_num_cat", 0, 0, None, -1, 2.0),
         e("quad_cat", 0, 0, 3, 3, 1.0), e("quad_cat", 0, 0, None, None, 1.0)],
        # rows (4, 5), (3, 3)
        [e("N", -1, -1, -1, -1, 2.0), e("lin", 0, -1, -1, -1, 7.0),
         e("quad", 0, 0, -1, -1, 25.0),
         e("lin_cat", 0, -1, 5, -1, 1.0), e("lin_cat", 0, -1, 3, -1, 1.0),
         e("quad_num_cat", 0, 0, 5, -1, 4.0), e("quad_num_cat", 0, 0, 3, -1, 3.0),
         e("quad_cat", 0, 0, 5, 5, 1.0), e("quad_cat", 0, 0, 3, 3, 1.0)],
    ]
    t = Triple.from_entries([r for w in windows for r in w], 1, 1)
    assert t.to_dict() == {
        "N": 4,
        "lin_agg": [10.0],
        "quad_agg": [30.0],
        "lin_cat": [[{"key": 3, "value": 2.0}, {"key": 5, "value": 1.0}]],
        "quad_num_cat": [[{"key": 3, "value": 4.0}, {"key": 5, "value": 4.0}]],
        "quad_cat": [
            [{"key1": 3, "key2": 3, "value": 2.0}, {"key1": 5, "key2": 5, "value": 1.0}]
        ],
    }
    linreg_train(t, label=0)


def test_late_data_within_watermark_counts(spark, tmp_path):
    """Rows later than the watermark are dropped; rows within it update
    their window — the documented deviation from the batch-only
    reference (PARITY.md #10)."""
    a = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1.0, 1), ("2024-01-01 12:00:00", 1.0, 1)],
        "ts_s string, x double, k int",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "x", "k")
    b = spark.createDataFrame(
        [("2024-01-01 09:00:00", 99.0, 2)],  # 3h late vs max event 12:00
        "ts_s string, x double, k int",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "x", "k")
    src = str(tmp_path / "src2")
    a.write.parquet(src)
    b.write.mode("append").parquet(src)

    stream = spark.readStream.schema(a.schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_triple_parts(
        stream, ["x"], ["k"], ts_col="ts", window="1 hour", watermark="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM late_test").collect()
    # complete mode keeps all windows; in append mode with real watermark
    # advancement the 09:00 row would be dropped once the watermark passed
    # 09:00+10min — here we just verify windows are keyed correctly
    hours = sorted({r["window_start"].hour for r in got})
    assert hours == [9, 10, 12] or hours == [10, 12]


def test_sessionize_batch_and_stream(spark, tmp_path):
    """Stateful sessionization: the streaming applyInPandasWithState path
    must produce the same closed sessions the batch window plan does."""
    from duckdb_imputation_spark.streaming.sessionize import (
        sessionize_batch,
        sessionize_stream,
    )

    rows = []
    for user in (1, 2):
        # session A: 3 events 1min apart; 30min silence; session B: 2 events
        for i in range(3):
            rows.append((f"2024-01-01 08:0{i}:00", user, 1.0 * (i + 1)))
        rows.append(("2024-01-01 08:40:00", user, 10.0))
        rows.append(("2024-01-01 08:45:00", user, 20.0))
    # sentinel far in the future so every real session times out
    rows.append(("2024-01-02 00:00:00", 99, 0.0))
    df = spark.createDataFrame(rows, "ts_s string, user_id long, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "value"
    )

    batch = sessionize_batch(df, gap_seconds=600)
    got_b = {
        (r["user_id"], r["session_start"].isoformat()): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got_b[(1, "2024-01-01T08:00:00")] == (3, 6.0)
    assert got_b[(1, "2024-01-01T08:40:00")] == (2, 30.0)

    src = str(tmp_path / "sess_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = sessionize_stream(stream, gap_seconds=600, watermark="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_s = {
        (r["user_id"], r["session_start"].isoformat()): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    # all user 1/2 sessions must be closed (the sentinel advanced the watermark)
    for key, val in got_b.items():
        if key[0] in (1, 2):
            assert got_s.get(key) == val, (key, val, got_s)


def test_streaming_corpus_stats_matches_batch(spark, tmp_path):
    from duckdb_imputation_spark.streaming import (
        corpus_stats_batch,
        streaming_corpus_stats,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter("doc_id < 60")
        .collect()
    )
    rows = [
        (f"2024-01-01 {10 + i // 30}:{i % 30:02d}:00", r["text"])
        for i, r in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "ts_s string, text string").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "text"
    )
    src = str(tmp_path / "cs_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        streaming_corpus_stats(stream, window="30 minutes", watermark="5 minutes")
        .writeStream.format("memory")
        .queryName("cs_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["window_start"]: (r["n_docs"], r["n_tokens"], r["avg_quality"])
        for r in spark.sql("SELECT * FROM cs_stream").collect()
    }
    exp = {
        r["window_start"]: (r["n_docs"], r["n_tokens"], r["avg_quality"])
        for r in corpus_stats_batch(df, window="30 minutes").collect()
    }
    assert got == exp and len(exp) >= 2


def test_streaming_minhash_pairs(spark, tmp_path):
    """Near-copies arriving over a stream must pair with their earlier
    source via per-bucket signature state; unrelated docs must not."""
    from duckdb_imputation_spark.streaming.dedup_stream import streaming_minhash_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter("doc_id < 8")
        .collect()
    )
    rows = []
    for i, r in enumerate(docs):
        rows.append((f"2024-01-01 10:0{i}:00", r["doc_id"], r["text"]))
    for i, r in enumerate(docs[:3]):  # near-copies arrive later
        rows.append((f"2024-01-01 10:3{i}:00", r["doc_id"] + 100, r["text"] + " extraword"))
    df = spark.createDataFrame(rows, "ts_s string, doc_id long, text string").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text"
    )
    src = str(tmp_path / "mh_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = streaming_minhash_pairs(stream, watermark="10 minutes", threshold=0.5)
    q = (
        out.writeStream.format("memory")
        .queryName("mh_pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in spark.sql("SELECT * FROM mh_pairs").collect()
    }
    for base in range(3):
        assert (base, base + 100) in pairs, (base, sorted(pairs))
    # distinct originals must not pair with each other
    assert not any(a < 8 and b < 8 for a, b in pairs), sorted(pairs)


def test_streaming_minhash_state_cap(spark, tmp_path):
    """FIFO state cap: with cap=2 only the 2 most recent bucket members
    can pair — a flood of identical docs stays O(cap) per batch."""
    from duckdb_imputation_spark.streaming.dedup_stream import streaming_minhash_pairs

    text = "the same boilerplate text repeated in every message of this stream"
    rows = [(f"2024-01-01 10:{i:02d}:00", i, text) for i in range(8)]
    df = spark.createDataFrame(rows, "ts_s string, doc_id long, text string").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text"
    )
    src = str(tmp_path / "cap_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = streaming_minhash_pairs(stream, watermark="10 minutes", state_cap=2)
    q = (
        out.writeStream.format("memory")
        .queryName("cap_pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    pairs = {
        (r["id_a"], r["id_b"], r["band"])
        for r in spark.sql("SELECT * FROM cap_pairs").collect()
    }
    # all docs identical: each doc pairs only against the ≤2 in state
    per_band_pairs = len({(a, b) for a, b, _ in pairs})
    assert 0 < per_band_pairs < 28  # full cross product would be 28


def test_streaming_exact_dedup(spark, tmp_path):
    from duckdb_imputation_spark.streaming import streaming_exact_dedup

    rows = [
        ("2024-01-01 10:00:00", "alpha"),
        ("2024-01-01 10:01:00", "beta"),
        ("2024-01-01 10:02:00", "alpha"),  # dup within watermark → dropped
        ("2024-01-01 10:03:00", "gamma"),
    ]
    df = spark.createDataFrame(rows, "ts_s string, text string").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "text"
    )
    src = str(tmp_path / "dd_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = streaming_exact_dedup(stream, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["text"] for r in spark.sql("SELECT * FROM dedup_stream").collect())
    assert got == ["alpha", "beta", "gamma"]


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    from duckdb_imputation_spark.operators.dedup import ngram_decontaminate
    from duckdb_imputation_spark.streaming import streaming_decontaminate

    run13 = " ".join(f"w{i}" for i in range(13))
    rows = [
        (1, f"intro {run13} outro"),
        (2, "totally different text here without overlap"),
        (3, "short eval"),
        (4, "clean and short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, f"eval prefix {run13}"), (101, "short eval")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "decon_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = streaming_decontaminate(stream, ev, "text", n=13)
    q = (
        out.writeStream.format("memory")
        .queryName("decon_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r["doc_id"] for r in spark.sql("SELECT doc_id FROM decon_stream").collect()
    )
    batch = sorted(
        r["doc_id"]
        for r in ngram_decontaminate(df, ev, "text", "doc_id", n=13).collect()
    )
    assert got == batch == [2, 4]


def test_streaming_asof_join_matches_batch(spark, tmp_path):
    """Stream the click/view merge through the stateful asof operator in
    several micro-batches (watermark advances between them) — the
    matched rows must equal operators/asof.as_of_join on the same data."""
    import pandas as pd

    from duckdb_imputation_spark.operators.asof import as_of_join
    from duckdb_imputation_spark.streaming.asof_stream import streaming_as_of_join

    base = pd.Timestamp("2024-01-01 00:00:00")

    def T(minutes):
        return (base + pd.Timedelta(minutes=minutes)).to_pydatetime()

    # two keys; rights before/after/tied with lefts; a left with no match
    clicks = [  # (event_id, key, ts)
        (1, 7, T(5)), (2, 7, T(20)), (3, 7, T(21)),
        (4, 9, T(1)),                      # before any view -> NULL match
        (5, 9, T(40)),
    ]
    views = [  # (key, ts, value)
        (7, T(4), 10.0), (7, T(20), 20.0),  # tie with click 2 -> matches
        (9, T(2), 30.0), (9, T(39), 40.0),
    ]
    cdf = spark.createDataFrame(clicks, "event_id long, user_id long, ts timestamp")
    vdf = spark.createDataFrame(views, "user_id long, vts timestamp, val double")

    # split each side into 2 files so availableNow runs multiple batches
    csrc, vsrc = str(tmp_path / "c"), str(tmp_path / "v")
    cdf.filter("event_id <= 3").coalesce(1).write.mode("append").parquet(csrc)
    cdf.filter("event_id > 3").coalesce(1).write.mode("append").parquet(csrc)
    vdf.filter("val <= 20").coalesce(1).write.mode("append").parquet(vsrc)
    vdf.filter("val > 20").coalesce(1).write.mode("append").parquet(vsrc)

    cs = spark.readStream.schema(cdf.schema).option("maxFilesPerTrigger", 1).parquet(csrc)
    vs = spark.readStream.schema(vdf.schema).option("maxFilesPerTrigger", 1).parquet(vsrc)
    out = streaming_as_of_join(
        cs, vs, on="user_id", left_ts="ts", right_ts="vts",
        left_id="event_id", right_val="val", watermark="1 minute",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("asof_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.left_id, r.matched_value)
        for r in spark.sql("SELECT * FROM asof_stream").collect()
    }

    want_df = as_of_join(
        cdf, vdf, on="user_id", left_ts="ts", right_ts="vts", right_cols=["val"]
    )
    want = {(r.event_id, r.val) for r in want_df.collect()}
    # every batch match must appear in the stream except possibly lefts the
    # final watermark never passed — here max ts 40m >> watermark 1m covers
    # all but the final event per key; require full equality of emitted set
    assert got <= want
    assert len(got) >= len(want) - 1  # the last left can stay in-flight
    # the tie case (click 2 at the same minute as a view) must have emitted
    assert (2, 20.0) in got
    assert (4, None) in got  # no preceding view -> NULL match


def test_streaming_upsert_sink(spark, tmp_path):
    """foreachBatch + crash-safe upsert: micro-batches MERGE into the
    table — later batches replace earlier rows with the same key."""
    from duckdb_imputation_spark.streaming.sinks import streaming_upsert_sink

    target = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, "orig") for i in range(10)], "id long, payload string"
    ).write.parquet(target)

    src = str(tmp_path / "updates")
    # two files -> two micro-batches; batch 2 overwrites a batch-1 key
    spark.createDataFrame(
        [(3, "b1"), (100, "b1")], "id long, payload string"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(3, "b2"), (101, "b2")], "id long, payload string"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("id long, payload string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_upsert_sink(
        stream, target, "id", checkpoint=str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = {r.id: r.payload for r in spark.read.parquet(target).collect()}
    assert len(got) == 12  # 10 originals + ids 100, 101
    assert got[3] in ("b1", "b2")  # replaced (batch order may interleave)
    assert got[100] == "b1" and got[101] == "b2"
    assert got[0] == "orig"


def test_streaming_sketch_sink_matches_batch(spark, tmp_path):
    """Incrementally-maintained HLL state agrees with one batch sketch
    over the whole stream (inside the envelope — union vs HIP
    estimator) and with the exact counts; replaying the stream (no
    checkpoint) leaves the estimates bit-unchanged (register-max
    idempotence)."""
    from duckdb_imputation_spark.operators import sketches as sk
    from duckdb_imputation_spark.streaming.sinks import streaming_sketch_sink

    df = spark.range(0, 3000).select(
        (F.col("id") % 4).alias("g"),
        ((F.col("id") * 2654435761) % 613).cast("string").alias("v"),
    )
    src = str(tmp_path / "sk_src")
    # several files -> several micro-batches with maxFilesPerTrigger=1
    df.repartition(4).write.parquet(src)
    state = str(tmp_path / "sk_state")

    def run_once():
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_sketch_sink(stream, state, "v", ["g"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {
        r["g"]: (r["n_distinct"], r["n_rows"])
        for r in sk.estimate_distinct(
            spark.read.parquet(state).select("g", "sketch", "n_rows"), ["g"]
        ).collect()
    }
    want = {
        r["g"]: (r["n_distinct"], r["n_rows"])
        for r in sk.estimate_distinct(
            sk.distinct_sketch(df, "v", ["g"]), ["g"]
        ).collect()
    }
    exact = {
        r["g"]: r["d"]
        for r in df.groupBy("g")
        .agg(F.countDistinct("v").alias("d"))
        .collect()
    }
    assert set(got) == set(want)
    for g, (est, n) in want.items():
        g_est, g_n = got[g]
        assert g_n == n  # row tallies are exact
        assert abs(g_est - est) <= 0.02 * est  # union vs HIP estimator
        assert abs(g_est - exact[g]) <= 0.05 * exact[g]  # error envelope

    # replay the same data (fresh query, no checkpoint): estimates are
    # bit-idempotent under re-merge; n_rows doubles (documented
    # at-least-once)
    run_once()
    again = {
        r["g"]: (r["n_distinct"], r["n_rows"])
        for r in sk.estimate_distinct(
            spark.read.parquet(state).select("g", "sketch", "n_rows"), ["g"]
        ).collect()
    }
    for g, (est, n) in got.items():
        assert again[g] == (est, 2 * n)


def test_streaming_countmin_sink_matches_batch(spark, tmp_path):
    """Incrementally-maintained count-min state is CELL-IDENTICAL to
    one batch sketch over the whole stream (CM merge is exact addition,
    no estimator asymmetry); replaying without a checkpoint doubles
    every cell (documented non-idempotence — the honest difference
    from the HLL sink)."""
    from duckdb_imputation_spark.operators import sketches as sk
    from duckdb_imputation_spark.streaming.sinks import streaming_countmin_sink

    df = spark.range(0, 2000).select(
        ((F.col("id") * 48271) % 97).cast("string").alias("v")
    )
    src = str(tmp_path / "cm_src")
    df.repartition(4).write.parquet(src)
    state = str(tmp_path / "cm_state")

    def run_once():
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_countmin_sink(stream, state, "v", depth=4, width=64)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in spark.read.parquet(state).select("row", "bucket", "cnt").collect()
    }
    want = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in sk.countmin_sketch(df, "v", depth=4, width=64).collect()
    }
    assert got == want

    # estimates from the streamed state never under-count the truth
    est = {
        r["v"]: r["cm_est"]
        for r in sk.countmin_estimate(
            spark.read.parquet(state).select("row", "bucket", "cnt"),
            df.distinct(),
            "v",
            depth=4,
            width=64,
        ).collect()
    }
    exact = {r["v"]: r["c"] for r in df.groupBy("v").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert all(est[v] >= c for v, c in exact.items())

    # replay without checkpoint: cell-wise addition doubles every count
    run_once()
    again = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in spark.read.parquet(state).select("row", "bucket", "cnt").collect()
    }
    assert again == {k: 2 * c for k, c in got.items()}


def test_streaming_rollup_sink_matches_batch(spark, tmp_path):
    """Incrementally-maintained hourly rollup equals one batch rollup
    over the whole stream (count/sum merge by addition, min/max by
    themselves); replay without checkpoint doubles the additive columns
    and leaves min/max unchanged (documented semantics)."""
    from duckdb_imputation_spark.streaming.sinks import streaming_rollup_sink

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(
            F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
            "event_type",
            "value",
        )
    )
    src = str(tmp_path / "ru_src")
    ev.repartition(4).write.parquet(src)
    state = str(tmp_path / "ru_state")
    aggs = {
        "n": ("count", None),
        "sum_value": ("sum", "value"),
        "min_value": ("min", "value"),
        "max_value": ("max", "value"),
    }

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_rollup_sink(
                stream, state, ["hour_bucket", "event_type"], aggs
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()

    def snap(df):
        return {
            (r["hour_bucket"], r["event_type"]): (
                r["n"],
                round(r["sum_value"], 6),
                r["min_value"],
                r["max_value"],
            )
            for r in df.collect()
        }

    got = snap(
        spark.read.parquet(state).select(
            "hour_bucket", "event_type", "n", "sum_value", "min_value", "max_value"
        )
    )
    want = snap(
        ev.groupBy("hour_bucket", "event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    assert set(got) == set(want)
    for k, (n, s, lo, hi) in want.items():
        gn, gs, glo, ghi = got[k]
        assert gn == n and glo == lo and ghi == hi
        assert abs(gs - s) < 1e-6  # float sum: merge order differs

    # replay without checkpoint: additive columns double, min/max stable
    run_once()
    again = snap(
        spark.read.parquet(state).select(
            "hour_bucket", "event_type", "n", "sum_value", "min_value", "max_value"
        )
    )
    for k, (n, s, lo, hi) in got.items():
        an, a_s, alo, ahi = again[k]
        assert an == 2 * n and alo == lo and ahi == hi
        assert abs(a_s - 2 * s) < 1e-5


def test_streaming_rollup_sink_rejects_non_mergeable(spark):
    from duckdb_imputation_spark.streaming.sinks import streaming_rollup_sink

    df = spark.range(1)
    import pytest as _pt

    with _pt.raises(ValueError, match="mergeable"):
        streaming_rollup_sink(df, "/tmp/x", ["id"], {"a": ("avg", "id")})


def test_state_exists_probe(spark, tmp_path):
    from duckdb_imputation_spark.streaming.sinks import _state_exists

    p = str(tmp_path / "probe_state")
    assert _state_exists(spark, p) is False
    spark.range(3).write.parquet(p)
    assert _state_exists(spark, p) is True


def test_rollup_sink_unreadable_state_fails_batch_not_wipes(spark, tmp_path):
    """A PRESENT but unreadable state table must fail the micro-batch
    (so Structured Streaming retries) — never be treated as 'no state
    yet' and overwritten with batch-only data (the ADVICE r5 medium:
    a bare except around the state read silently destroyed accumulated
    state on any transient read error)."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from duckdb_imputation_spark.streaming.sinks import streaming_rollup_sink

    src = str(tmp_path / "bad_src")
    spark.range(10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").write.parquet(src)
    state = str(tmp_path / "bad_state")
    os.makedirs(state)
    garbage = os.path.join(state, "part-00000.parquet")
    with open(garbage, "w") as f:
        f.write("this is not parquet")

    stream = spark.readStream.schema("k long, v double").parquet(src)
    writer = streaming_rollup_sink(
        stream, state, ["k"], {"n": ("count", None), "s": ("sum", "v")},
        checkpoint=str(tmp_path / "bad_cp"),
    )
    q = writer.trigger(availableNow=True).start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    # the broken state table was NOT replaced by batch-only data
    assert os.path.exists(garbage)
    with open(garbage) as f:
        assert f.read() == "this is not parquet"


def test_streaming_bloom_sink_matches_batch(spark, tmp_path):
    """Incrementally-maintained Bloom state equals one batch build over
    the whole stream (bitwise-OR merge is exact), and replaying the
    stream WITHOUT a checkpoint leaves the state bit-identical — OR is
    idempotent, the crash-recovery property the additive sinks lack."""
    from duckdb_imputation_spark.operators.sketches import bloom_build
    from duckdb_imputation_spark.streaming.sinks import streaming_bloom_sink

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("fp"))
    )
    src = str(tmp_path / "bf_src")
    docs.repartition(3).write.parquet(src)
    state = str(tmp_path / "bf_state")

    def run_once():
        stream = (
            spark.readStream.schema("fp string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_bloom_sink(stream, state, "fp", m_bits=8192, k_hashes=3)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    got = {
        r["word"]: r["bits"]
        for r in spark.read.parquet(state).select("word", "bits").collect()
    }
    exp = {
        r["word"]: r["bits"]
        for r in bloom_build(docs, "fp", m_bits=8192, k_hashes=3).collect()
    }
    assert got == exp
    # replay without checkpoint: idempotent (unlike countmin/rollup)
    run_once()
    again = {
        r["word"]: r["bits"]
        for r in spark.read.parquet(state).select("word", "bits").collect()
    }
    assert again == exp


def test_sink_recovers_interrupted_swap_state(spark, tmp_path):
    """A crash INSIDE upsert_table's staged swap leaves the accumulated
    state only in the __upsert_backup dir (table path absent).  The
    retried micro-batch must RECOVER that state and merge into it —
    never treat the situation as 'no state yet' and overwrite with
    batch-only data."""
    import os

    from duckdb_imputation_spark.streaming.sinks import streaming_rollup_sink

    src1 = str(tmp_path / "rs_src1")
    spark.createDataFrame([(1, 10.0)] * 4, "k long, v double").write.parquet(src1)
    state = str(tmp_path / "rs_state")

    def run(src, cp):
        stream = spark.readStream.schema("k long, v double").parquet(src)
        q = streaming_rollup_sink(
            stream, state, ["k"], {"n": ("count", None), "s": ("sum", "v")},
            checkpoint=str(tmp_path / cp),
        ).trigger(availableNow=True).start()
        q.awaitTermination()

    run(src1, "cp1")
    assert spark.read.parquet(state).collect()[0]["n"] == 4

    # simulate the mid-swap crash: state renamed away to the backup,
    # table path gone (exactly the window between upsert_table's two
    # renames)
    os.rename(state, state + "__upsert_backup")
    assert not os.path.exists(state)

    src2 = str(tmp_path / "rs_src2")
    spark.createDataFrame([(1, 5.0)] * 2, "k long, v double").write.parquet(src2)
    run(src2, "cp2")
    row = spark.read.parquet(state).collect()[0]
    # pre-crash 4 rows recovered AND merged with the new batch's 2 —
    # the pre-fix behavior lost the backup and reported n=2
    assert row["n"] == 6
    assert abs(row["s"] - 50.0) < 1e-9
    assert not os.path.exists(state + "__upsert_backup")


def test_streaming_sliding_counts_matches_batch(spark, tmp_path):
    """The watermarked hopping-window aggregation must produce exactly
    the batch sliding_counts rows under an availableNow replay (every
    event in width/slide = 2 windows)."""
    import pandas as pd

    from duckdb_imputation_spark.operators.timeseries import sliding_counts
    from duckdb_imputation_spark.streaming import streaming_sliding_counts

    rows = [
        ("2024-01-01 10:05:00", "a"),
        ("2024-01-01 10:55:00", "a"),
        ("2024-01-01 11:05:00", "b"),
        ("2024-01-01 13:40:00", "a"),
    ]
    df = spark.createDataFrame(rows, "ts string, k string").select(
        F.col("ts").cast("timestamp").alias("ts"), "k"
    )
    src = str(tmp_path / "slide_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = streaming_sliding_counts(
        stream, "ts", "2 hours", "1 hour", by_cols=["k"]
    )
    q = (
        out.writeStream.format("memory")
        .queryName("slide_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start_us"], r["k"]): r["n"]
        for r in spark.sql("SELECT * FROM slide_counts").collect()
    }
    exp = {
        (r["window_start_us"], r["k"]): r["n"]
        for r in sliding_counts(
            df, "ts", "2 hours", "1 hour", by_cols=["k"]
        ).collect()
    }
    assert got == exp
    # overlap invariant: each event contributes to exactly 2 windows
    assert sum(got.values()) == 2 * len(rows)


def test_streaming_retention_sink_matches_batch_and_replays_idempotent(
    spark, tmp_path
):
    """The maintained (entity, period) set must reproduce the batch
    retention matrix exactly, and a full no-checkpoint replay must
    leave the state bit-identical (set semantics: DISTINCT metrics
    survive replay, unlike the additive sinks)."""
    from duckdb_imputation_spark.operators.timeseries import (
        retention_cohorts,
        retention_from_periods,
    )
    from duckdb_imputation_spark.streaming.sinks import (
        streaming_retention_sink,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "ts"
    )
    src = str(tmp_path / "ret_src")
    ev.repartition(4).write.parquet(src)
    state = str(tmp_path / "ret_state")

    day_us = 86_400 * 1_000_000

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_retention_sink(
                stream, state, "user_id", "ts", period_us=day_us
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {
        (r["cohort_period"], r["offset"]): r["n_active"]
        for r in retention_from_periods(
            spark.read.parquet(state), "entity", "period"
        ).collect()
    }
    want = {
        (r["cohort_period"], r["offset"]): r["n_active"]
        for r in retention_cohorts(
            ev, "user_id", "ts", period_us=day_us
        ).collect()
    }
    assert got == want and len(got) > 3

    # replay the whole source with no checkpoint: the state is a SET,
    # so every upsert rewrites identical rows — matrix unchanged
    run_once()
    again = {
        (r["cohort_period"], r["offset"]): r["n_active"]
        for r in retention_from_periods(
            spark.read.parquet(state), "entity", "period"
        ).collect()
    }
    assert again == got


def test_cusum_stream_matches_batch_with_state_across_runs(spark, tmp_path):
    """Streaming CUSUM over an in-order source equals the batch
    operator row for row — including state carried ACROSS two separate
    availableNow runs through the checkpoint (the second run processes
    only the newly arrived file and must continue each key's
    recurrence, not restart it)."""
    from duckdb_imputation_spark.operators.timeseries import cusum
    from duckdb_imputation_spark.streaming.cusum_stream import cusum_stream

    rows1 = [(1, 1, 1.0), (1, 2, 1.5), (2, 1, -2.0), (1, 3, None)]
    rows2 = [(1, 4, 1.5), (2, 2, -2.0), (2, 3, -2.0), (1, 5, 1.5)]
    schema = "k long, t long, x double"
    src = tmp_path / "cusum_src"
    ckpt = str(tmp_path / "cusum_ckpt")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(src / "f1")
    )

    out_dir = str(tmp_path / "cusum_out")

    def run():
        stream = spark.readStream.schema(
            spark.createDataFrame([], schema).schema
        ).option("maxFilesPerTrigger", 1).parquet(str(src / "*"))
        q = (
            cusum_stream(
                stream, "k", "t", "x",
                target=0.0, slack=0.5, threshold=2.0,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(src / "f2")
    )
    run()
    got = {
        (r["k"], r["t"]): (r["cusum_hi"], r["cusum_lo"], r["alarm"])
        for r in spark.read.parquet(out_dir).collect()
    }

    all_rows = spark.createDataFrame(rows1 + rows2, schema)
    want = {
        (r["k"], r["t"]): (r["cusum_hi"], r["cusum_lo"], r["alarm"])
        for r in cusum(
            all_rows, ["k"], "t", "x",
            target=0.0, slack=0.5, threshold=2.0,
        ).collect()
    }
    assert got == want and len(got) == 8
    # cross-run state visible in the values: key 2 alarms on its 2nd
    # -2.0 (file 1 ends there), and the 3rd -2.0 — processed by the
    # SECOND run — restarts from the post-alarm reset (lo = 1.5), which
    # only happens if the checkpoint carried the state across runs
    assert got[(2, 2)] == (0.0, 3.0, -1)
    assert got[(2, 3)] == (0.0, 1.5, 0)


def test_ewma_halflife_stream_matches_batch_with_state_across_runs(
    spark, tmp_path
):
    """Streaming half-life EWMA over an in-order source equals the
    batch operator row for row — including (s, pt) state carried ACROSS
    two availableNow runs through the checkpoint, and the NULL rule
    (state AND time anchor carry, so the next real value decays by the
    FULL gap even when the gap spans the run boundary)."""
    from duckdb_imputation_spark.operators.timeseries import ewma_halflife
    from duckdb_imputation_spark.streaming.ewma_stream import (
        ewma_halflife_stream,
    )

    rows1 = [(1, 0.0, 10.0), (1, 2.0, 20.0), (2, 0.0, 4.0), (1, 3.0, None)]
    rows2 = [(1, 6.0, 20.0), (2, 4.0, 8.0), (1, 7.0, None), (1, 9.0, 12.0)]
    schema = "k long, t double, x double"
    src = tmp_path / "ew_src"
    ckpt = str(tmp_path / "ew_ckpt")
    out_dir = str(tmp_path / "ew_out")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(src / "f1")
    )

    def run():
        stream = spark.readStream.schema(
            spark.createDataFrame([], schema).schema
        ).option("maxFilesPerTrigger", 1).parquet(str(src / "*"))
        q = (
            ewma_halflife_stream(stream, "k", "t", "x", halflife=2.0)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(src / "f2")
    )
    run()
    got = {
        (r["k"], r["t"]): r["ewma"]
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["k"], r["t"]): r["ewma"]
        for r in ewma_halflife(
            spark.createDataFrame(rows1 + rows2, schema),
            ["k"], "t", "x", halflife=2.0,
        ).collect()
    }
    assert len(got) == 8
    for key, w in want.items():
        g = got[key]
        if w is None:
            assert g is None, key
        else:
            assert abs(g - w) < 1e-12, key
    # the run-2 value for key 1 at t=6 decays from t=2's anchor (the
    # NULL at t=3 carried the anchor): w = 2^-(6-2)/2 = 0.25,
    # s = 0.25*15 + 0.75*20 = 18.75 — only right if the checkpoint
    # carried BOTH s and pt across runs
    assert abs(got[(1, 6.0)] - 18.75) < 1e-12


def test_streaming_scd2_sink_matches_batch_and_survives_replay(
    spark, tmp_path
):
    """Two availableNow runs build the same history the batch
    scd2_apply builds from all updates at once; replaying the ENTIRE
    source against the existing state (fresh checkpoint = forced
    redelivery) converges to the identical state — the monotone guard
    drops every stale update, so the sink is idempotent by
    construction, not by checkpoint."""
    from duckdb_imputation_spark.operators.scd import scd2_apply
    from duckdb_imputation_spark.streaming.sinks import (
        scd2_read,
        streaming_scd2_sink,
    )

    rows1 = [(1, "a", 10), (1, "b", 20), (2, "x", 5)]
    rows2 = [(1, "b", 30), (2, "y", 40), (3, "q", 7)]  # 30: b->b no-op
    schema = "k long, v string, ts long"
    src = tmp_path / "scd_src"
    state = str(tmp_path / "scd_state")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(src / "f1")
    )

    def run(ckpt):
        stream = spark.readStream.schema(
            spark.createDataFrame([], schema).schema
        ).option("maxFilesPerTrigger", 1).parquet(str(src / "*"))
        q = (
            streaming_scd2_sink(
                stream, state, ["k"], ["v"], "ts",
                checkpoint=str(tmp_path / ckpt),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("cp1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(src / "f2")
    )
    run("cp1")

    def snap():
        return {
            (r["k"], r["v"], r["valid_from"], r["valid_to"])
            for r in scd2_read(spark, state).collect()
        }

    want = {
        (r["k"], r["v"], r["valid_from"], r["valid_to"])
        for r in scd2_apply(
            None,
            spark.createDataFrame(rows1 + rows2, schema),
            ["k"], ["v"], "ts",
        ).collect()
    }
    assert snap() == want
    assert (1, "a", 10, 20) in want and (1, "b", 20, None) in want

    # forced full redelivery: fresh checkpoint, same files, same state
    run("cp2")
    assert snap() == want


def test_rollup_sink_ohlc_first_last_merge_and_replay(spark, tmp_path):
    """first/last (struct-ordered min/max over (ts, value)) merge
    correctly ACROSS micro-batches — the second batch carries an
    earlier-ts row for one key, so the stored open must move backward —
    and, being min/max-class, survive a replayed batch unchanged."""
    from duckdb_imputation_spark.streaming.sinks import (
        streaming_rollup_sink,
    )

    schema = "k long, t long, v double"
    rows1 = [(1, 10, 5.0), (1, 12, 7.0), (2, 3, 1.0)]
    rows2 = [(1, 8, 2.0), (2, 30, 9.0), (1, 15, None)]  # NULL excluded
    src = tmp_path / "ohlc_src"
    state = str(tmp_path / "ohlc_state")
    aggs = {
        "n": ("count", None),
        "v_open": ("first", ("t", "v")),
        "v_close": ("last", ("t", "v")),
        "v_min": ("min", "v"),
        "v_max": ("max", "v"),
    }

    def run(ckpt):
        stream = spark.readStream.schema(
            spark.createDataFrame([], schema).schema
        ).option("maxFilesPerTrigger", 1).parquet(str(src / "*"))
        q = (
            streaming_rollup_sink(
                stream, state, ["k"], aggs,
                checkpoint=str(tmp_path / ckpt),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    run("cp")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(src / "f2")
    )
    run("cp")

    def snap():
        return {
            r["k"]: (
                r["n"], r["v_open"]["v"], r["v_close"]["v"],
                r["v_min"], r["v_max"],
            )
            for r in spark.read.parquet(state).collect()
        }

    got = snap()
    # key 1: open moved BACK to t=8 (2.0) by batch 2; close t=12 (7.0,
    # the t=15 NULL is excluded); n counts all 4 rows incl the NULL row
    assert got[1] == (4, 2.0, 7.0, 2.0, 7.0)
    assert got[2] == (2, 1.0, 9.0, 1.0, 9.0)

    # replay both files on a fresh checkpoint: first/last/min/max are
    # idempotent (count doubles - the documented additive caveat)
    run("cp_replay")
    got2 = snap()
    for k in (1, 2):
        assert got2[k][1:] == got[k][1:]
        assert got2[k][0] == 2 * got[k][0]


def test_ewma_halflife_stream_null_timestamp_does_not_poison_state(
    spark, tmp_path
):
    """A NULL-timestamp row (out of contract for the batch fold) emits
    NULL and leaves (s, pt) untouched — a NaN must never enter the
    state, where it would poison every later value AND collide with
    the no-observation sentinel (review r8)."""
    from duckdb_imputation_spark.streaming.ewma_stream import (
        ewma_halflife_stream,
    )

    schema = "k long, t double, x double"
    rows = [(1, 0.0, 10.0), (1, None, 99.0), (1, 2.0, 20.0)]
    src = tmp_path / "ewnull_src"
    out_dir = str(tmp_path / "ewnull_out")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema
    ).parquet(str(src / "*"))
    q = (
        ewma_halflife_stream(stream, "k", "t", "x", halflife=2.0)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ewnull_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["t"]: r["ewma"] for r in spark.read.parquet(out_dir).collect()
    }
    assert got[0.0] == 10.0
    assert got[None] is None                 # NULL-ts row emits NULL
    # t=2 decays from the t=0 anchor: w=0.5 -> 0.5*10 + 0.5*20 = 15
    assert abs(got[2.0] - 15.0) < 1e-12


# --------------------------------------------- streaming heavy hitters

def test_heavy_hitters_stream_superset_and_bounds(spark, tmp_path):
    from collections import Counter

    from duckdb_imputation_spark.streaming.heavyhitters_stream import (
        heavy_hitters_stream,
    )

    # skewed stream: 'hot' ~ 40%, 'warm' ~ 20%, long tail of singletons
    vals = []
    for i in range(300):
        vals.append("hot" if i % 5 < 2 else ("warm" if i % 5 == 2 else f"t{i}"))
    src = str(tmp_path / "hh_src")
    spark.createDataFrame([(v,) for v in vals], "v string").coalesce(
        2
    ).write.parquet(src)
    stream = spark.readStream.schema("v string").parquet(src)
    out = heavy_hitters_stream(stream, "v", k=10)
    q = (
        out.writeStream.format("memory")
        .queryName("hh_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM hh_stream").collect()
    n_max = max(r["n_processed"] for r in rows)
    assert n_max == len(vals)
    final = {r["value"]: r["m_hat"] for r in rows if r["n_processed"] == n_max}
    assert len(final) <= 10
    true = Counter(vals)
    thresh = len(vals) / 11.0
    # superset guarantee: every value above N/(k+1) survives
    for v, f in true.items():
        if f > thresh:
            assert v in final, v
    # estimate bounds: f - N/(k+1) <= m_hat <= f
    for v, m in final.items():
        assert m <= true[v]
        assert m >= true[v] - thresh - 1e-9


def test_heavy_hitters_stream_per_key_and_state_carry(spark, tmp_path):
    import os
    import shutil

    from duckdb_imputation_spark.streaming.heavyhitters_stream import (
        heavy_hitters_stream,
    )

    # two keys with different hot values; fed as TWO availableNow runs
    # sharing a checkpoint -> state must carry across runs
    rows1 = [("a", "x")] * 30 + [("a", "y")] * 5 + [("b", "z")] * 20
    rows2 = [("a", "x")] * 10 + [("b", "z")] * 15 + [("b", "w")] * 3
    src = str(tmp_path / "hh2_src")
    os.makedirs(src)
    cp = str(tmp_path / "hh2_cp")
    outdir = str(tmp_path / "hh2_out")
    for i, batch in enumerate((rows1, rows2)):
        half = str(tmp_path / f"half{i}")
        spark.createDataFrame(batch, "k string, v string").coalesce(
            1
        ).write.parquet(half)
        part = [f for f in os.listdir(half) if f.endswith(".parquet")][0]
        shutil.copy(f"{half}/{part}", f"{src}/b{i}.parquet")
        stream = spark.readStream.schema("k string, v string").parquet(src)
        q = (
            heavy_hitters_stream(stream, "v", k=3, key_col="k")
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    got = spark.read.parquet(outdir).collect()
    per_key_max = {}
    for r in got:
        per_key_max[r["key"]] = max(
            per_key_max.get(r["key"], 0), r["n_processed"]
        )
    assert per_key_max == {"a": 45, "b": 38}  # totals across BOTH runs
    final_a = {
        r["value"]: r["m_hat"]
        for r in got
        if r["key"] == "a" and r["n_processed"] == 45
    }
    assert final_a.get("x", 0) >= 40 - 45 / 4 - 1e-9  # superset + bound


# ------------------------------------------------------ streaming PSI

def test_streaming_psi_counts_match_batch_and_score(spark, tmp_path):
    import math

    from duckdb_imputation_spark.operators.selection import psi_vs_reference
    from duckdb_imputation_spark.streaming.psi_stream import (
        streaming_psi_counts,
    )

    rows = []
    for day in (1, 2):
        for i in range(120):
            # day 2 shifts upward: drift the monitor must score higher
            v = float((i * 7) % 40 + (25 if day == 2 else 0))
            rows.append((f"2024-03-0{day} 10:{i % 60:02d}:00", v))
    df = spark.createDataFrame(rows, "ts_s string, v double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "v"
    )
    src = str(tmp_path / "psi_src")
    df.write.parquet(src)
    edges = [10.0, 20.0, 30.0, 40.0]
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = streaming_psi_counts(stream, "ts", "v", edges, window="1 day")
    q = (
        out.writeStream.format("memory")
        .queryName("psi_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    counts = spark.sql("SELECT * FROM psi_counts")
    # streaming counts == batch bucketed counts
    got = {
        (str(r["window_start"])[:10], r["bucket"]): r["n"]
        for r in counts.collect()
    }
    ref_py = {}
    for ts_s, v in rows:
        b = sum(v >= e for e in edges)
        ref_py[(ts_s[:10], b)] = ref_py.get((ts_s[:10], b), 0) + 1
    assert got == ref_py
    # scoring: reference = day 1's own histogram -> day 1 PSI == 0
    ref_counts = [ref_py.get(("2024-03-01", b), 0) for b in range(5)]
    scored = {
        str(r["window_start"])[:10]: r["psi"]
        for r in psi_vs_reference(
            counts, "bucket", "n", ref_counts,
            by_cols=["window_start"], round_digits=None,
        ).collect()
    }
    assert abs(scored["2024-03-01"]) < 1e-12  # identical -> exactly 0
    # python reference for day 2
    bb, n2 = 5, 120
    n_ref = sum(ref_counts)
    psi2 = sum(
        ((ref_py.get(("2024-03-02", b), 0) + 1) / (n2 + bb)
         - (ref_counts[b] + 1) / (n_ref + bb))
        * math.log(
            ((ref_py.get(("2024-03-02", b), 0) + 1) / (n2 + bb))
            / ((ref_counts[b] + 1) / (n_ref + bb))
        )
        for b in range(bb)
    )
    assert abs(scored["2024-03-02"] - psi2) < 1e-12
    assert scored["2024-03-02"] > 0.1  # the shift is visible
    spark.catalog.dropTempView("psi_counts")


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """Live funnel (streaming/funnel_stream.py) over several
    micro-batches with OUT-OF-ORDER arrival: a user's later-stage event
    lands in an earlier file than its anchor.  Once a far-future nudge
    event pushes the watermark past every journey, the emitted
    (user, stage_idx, reached_at) set must equal the batch
    funnel_users cells on the same data."""
    import pandas as pd

    from duckdb_imputation_spark.operators.funnel import funnel_users
    from duckdb_imputation_spark.streaming.funnel_stream import funnel_stream

    base = pd.Timestamp("2024-01-01 00:00:00")

    def T(minutes):
        return (base + pd.Timedelta(minutes=minutes)).to_pydatetime()

    stages = ["view", "click", "buy"]
    rows = [  # (user_id, ts, event_type)
        # u1 full ordered journey, but the click arrives in batch 1
        # BEFORE the view (batch 2) — buffer-until-watermark must
        # still anchor on the earlier view
        (1, T(10), "click"), (1, T(30), "buy"),
        (1, T(5), "view"),
        # u2 clicked before viewing: stalls at view
        (2, T(2), "click"), (2, T(3), "view"),
        # u3 view+buy, never clicked
        (3, T(1), "view"), (3, T(2), "buy"),
        # u4 non-stage noise only
        (4, T(1), "error"),
    ]
    edf = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")

    src = str(tmp_path / "ev")
    # batch 1: the out-of-order clicks/buys; batch 2: the anchors;
    # batch 3: a far-future non-stage nudge that only advances the
    # watermark (filtered inside the operator AFTER the watermark)
    edf.filter("ts > timestamp'2024-01-01 00:04:00'").coalesce(1).write.mode("append").parquet(src)
    edf.filter("ts <= timestamp'2024-01-01 00:04:00'").coalesce(1).write.mode("append").parquet(src)
    # TWO nudge files of a STAGE type under an excluded user id: the
    # first advances the watermark past every journey (only stage-type
    # events move the clock — Catalyst pushes the stage filter below
    # the watermark node), the second triggers the batch in which the
    # armed event-time timeouts actually fire (watermark updates at
    # batch END; a timeout set by batch N fires during batch N+1)
    spark.createDataFrame(
        [(99, T(10000), "view")], "user_id long, ts timestamp, event_type string"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(99, T(10001), "view")], "user_id long, ts timestamp, event_type string"
    ).coalesce(1).write.mode("append").parquet(src)

    es = (
        spark.readStream.schema(edf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = funnel_stream(es, stages, watermark="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.stage_idx, r.stage, r.reached_at)
        for r in spark.sql("SELECT * FROM funnel_stream").collect()
        if r.user_id != 99  # the clock-nudge user
    }

    users = funnel_users(edf, "user_id", "ts", "event_type", stages).collect()
    want = set()
    for r in users:
        for k, s in enumerate(stages):
            t = r[f"t{k + 1}"]
            if t is not None:
                want.add((r["user_id"], k + 1, s, t))
    assert got == want, (sorted(got), sorted(want))
    # the out-of-order journey completed all three stages
    assert (1, 3, "buy", T(30)) in got


def test_streaming_funnel_within_and_exactly_once(spark, tmp_path):
    """The within knob matches batch, and a REPLAYED second
    availableNow run through the same checkpoint emits nothing new
    (machine state survives; no duplicate stage rows)."""
    import pandas as pd

    from duckdb_imputation_spark.streaming.funnel_stream import funnel_stream

    base = pd.Timestamp("2024-01-01 00:00:00")

    def T(minutes):
        return (base + pd.Timedelta(minutes=minutes)).to_pydatetime()

    rows = [
        (1, T(0), "view"), (1, T(5), "click"),    # inside within=600s
        (2, T(0), "view"), (2, T(50), "click"),   # outside
    ]
    edf = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    src = str(tmp_path / "ev2")
    edf.coalesce(1).write.mode("append").parquet(src)
    for m in (10000, 10001):  # two stage-type nudges (excluded user):
        # advance the watermark, then fire the armed timeouts
        spark.createDataFrame(
            [(99, T(m), "view")], "user_id long, ts timestamp, event_type string"
        ).coalesce(1).write.mode("append").parquet(src)

    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "funnel_out")

    def run():
        es = (
            spark.readStream.schema(edf.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            funnel_stream(es, ["view", "click"], watermark="1 minute", within=600.0)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = [
        (r.user_id, r.stage_idx)
        for r in spark.read.parquet(out_dir).collect()
        if r.user_id != 99
    ]
    assert sorted(first) == [(1, 1), (1, 2), (2, 1)]  # u2 click outside within
    # replay through the SAME checkpoint: the offsets log remembers
    # every file was read and the machine state survives — no
    # duplicate stage rows land in the sink
    run()
    second = [
        (r.user_id, r.stage_idx)
        for r in spark.read.parquet(out_dir).collect()
        if r.user_id != 99
    ]
    assert sorted(second) == sorted(first)


def test_streaming_funnel_repeated_stage(spark, tmp_path):
    """A funnel with a REPEATED stage type (['view','click','view'])
    must complete in streaming exactly as in batch (ADVICE r9: the
    source maps every event to its FIRST stage index, so the fold has
    to match stage NAMES — index equality could never reach the later
    duplicate stage)."""
    import pandas as pd

    from duckdb_imputation_spark.operators.funnel import funnel_users
    from duckdb_imputation_spark.streaming.funnel_stream import funnel_stream

    base = pd.Timestamp("2024-01-01 00:00:00")

    def T(minutes):
        return (base + pd.Timedelta(minutes=minutes)).to_pydatetime()

    stages = ["view", "click", "view"]
    rows = [
        # u1 completes all three stages: view@1, click@2, view@3
        (1, T(1), "view"), (1, T(2), "click"), (1, T(3), "view"),
        # u2 views twice but never clicks: stalls at stage 1 (the
        # second view cannot satisfy stage 2 = 'click')
        (2, T(1), "view"), (2, T(4), "view"),
        # u3 view then click only: stalls at stage 2
        (3, T(1), "view"), (3, T(2), "click"),
    ]
    edf = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    src = str(tmp_path / "ev3")
    edf.coalesce(1).write.mode("append").parquet(src)
    for m in (10000, 10001):  # advance watermark, then fire timeouts
        spark.createDataFrame(
            [(99, T(m), "view")],
            "user_id long, ts timestamp, event_type string",
        ).coalesce(1).write.mode("append").parquet(src)

    es = (
        spark.readStream.schema(edf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        funnel_stream(es, stages, watermark="1 minute")
        .writeStream.format("memory")
        .queryName("funnel_stream_rep")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.stage_idx, r.reached_at)
        for r in spark.sql("SELECT * FROM funnel_stream_rep").collect()
        if r.user_id != 99
    }
    users = funnel_users(edf, "user_id", "ts", "event_type", stages).collect()
    want = set()
    for r in users:
        for k in range(len(stages)):
            t = r[f"t{k + 1}"]
            if t is not None:
                want.add((r["user_id"], k + 1, t))
    assert got == want, (sorted(got), sorted(want))
    assert (1, 3, T(3)) in got  # the duplicate stage is reachable


def test_streaming_quarantine_validate_rows(spark, tmp_path):
    """validate_rows is a stateless narrow pipeline (struct-array
    filter + explode, no shuffle), so it composes with a readStream
    source unchanged — the streaming ingest-quarantine path: violating
    rows land in the sink tagged with their failed rule, clean rows
    never appear, and the output equals the batch operator on the same
    data."""
    from duckdb_imputation_spark.operators.validate import (
        in_range,
        not_null,
        validate_rows,
    )

    rows = [(1, 5.0), (2, 99.0), (3, None), (4, -1.0)]
    edf = spark.createDataFrame(rows, "id long, v double")
    src = str(tmp_path / "src")
    edf.coalesce(1).write.parquet(src)

    checks = [
        not_null("v", name="nn"),
        in_range("v", 0, 10, name="rng"),
    ]
    stream = spark.readStream.schema(edf.schema).parquet(src)
    q = (
        validate_rows(stream, checks, id_cols=["id"])
        .writeStream.format("memory")
        .queryName("quarantine")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = sorted(
        (r["id"], r["check"])
        for r in spark.sql("SELECT * FROM quarantine").collect()
    )
    want = sorted(
        (r["id"], r["check"])
        for r in validate_rows(edf, checks, id_cols=["id"]).collect()
    )
    assert got == want == [(2, "rng"), (3, "nn"), (4, "rng")]


def test_streaming_window_funnel_matches_batch(spark, tmp_path):
    """Live windowFunnel twin: depth-increase rows over out-of-order
    micro-batches; per user max(depth) must equal the batch
    window_funnel depth, and the emitted depths are exactly 1..D
    (the ADVICE r9 per-anchor counterexample converts here too)."""
    import pandas as pd

    from duckdb_imputation_spark.operators.funnel import window_funnel
    from duckdb_imputation_spark.streaming.funnel_stream import (
        window_funnel_stream,
    )

    base = pd.Timestamp("2024-01-01 00:00:00")

    def T(seconds):
        return (base + pd.Timedelta(seconds=seconds)).to_pydatetime()

    stages = ["view", "click"]
    rows = [
        # the per-anchor counterexample: min-ts anchor (t=0) misses the
        # click@150 under within=60, the @100 anchor converts
        (1, T(0), "view"), (1, T(100), "view"), (1, T(150), "click"),
        # u2: click arrives in an EARLIER file than its view
        (2, T(40), "click"), (2, T(10), "view"),
        # u3: duplicate same-microsecond anchors, then conversion
        (3, T(0), "view"), (3, T(0), "view"), (3, T(30), "click"),
        # u4: click outside every window
        (4, T(0), "view"), (4, T(500), "click"),
    ]
    edf = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    src = str(tmp_path / "wf")
    # batch 1: the late-half events; batch 2: the early half (forces
    # buffering); then two stage-type nudges under an excluded user
    edf.filter("ts > timestamp'2024-01-01 00:00:35'").coalesce(1).write.mode("append").parquet(src)
    edf.filter("ts <= timestamp'2024-01-01 00:00:35'").coalesce(1).write.mode("append").parquet(src)
    for s in (100000, 100060):
        spark.createDataFrame(
            [(99, T(s), "view")], "user_id long, ts timestamp, event_type string"
        ).coalesce(1).write.mode("append").parquet(src)

    es = (
        spark.readStream.schema(edf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = window_funnel_stream(es, stages, within=60.0, watermark="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("wf_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r.user_id, r.depth)
        for r in spark.sql("SELECT * FROM wf_stream").collect()
        if r.user_id != 99
    ]
    # exactly-once per (user, depth): no duplicates
    assert len(got) == len(set(got))
    got_max = {}
    for u, d in got:
        got_max[u] = max(got_max.get(u, 0), d)
        # every prefix depth present
    for u, d in got_max.items():
        assert {(u, i) for i in range(1, d + 1)} <= set(got)
    want = {
        r["user_id"]: r["depth"]
        for r in window_funnel(
            edf.filter("user_id != 99"), "user_id", "ts", "event_type",
            stages, within=60.0,
        ).collect()
    }
    assert got_max == want
    assert want[1] == 2 and want[4] == 1  # the counterexample + stall


def test_streaming_window_funnel_state_ttl(spark, tmp_path):
    """ADVICE r11 #1: by default a user's scalars persist forever, so a
    converted user who returns emits NOTHING new; with state_ttl set, a
    user drained and event-time-inactive past the ttl is evicted and a
    return is a fresh machine (depths re-emit) — the documented trade
    of the exactly-once contract for bounded total state."""
    import pandas as pd

    from duckdb_imputation_spark.streaming.funnel_stream import (
        window_funnel_stream,
    )

    base = pd.Timestamp("2024-01-01 00:00:00")

    def T(seconds):
        return (base + pd.Timedelta(seconds=seconds)).to_pydatetime()

    schema = "user_id long, ts timestamp, event_type string"
    stages = ["view", "click"]
    src = str(tmp_path / "wf_ttl")
    batches = [
        [(1, T(0), "view"), (1, T(30), "click")],   # u1 converts
        [(99, T(1000), "view")],   # wm -> ~940: seals + drains u1
        [(99, T(2000), "view")],   # wm -> ~1940: past u1's ttl clock
        [(1, T(2100), "view"), (1, T(2130), "click")],  # u1 returns
        [(99, T(3000), "view")],   # wm -> ~2940: seals the return
    ]
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(name, **kw):
        es = (
            spark.readStream.schema(
                spark.read.parquet(src).schema
            ).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            window_funnel_stream(
                es, stages, within=60.0, watermark="1 minute", **kw
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (r.user_id, r.depth)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
            if r.user_id != 99
        )

    with pytest.raises(ValueError, match="state_ttl"):
        window_funnel_stream(
            spark.readStream.schema(
                spark.read.parquet(src).schema
            ).parquet(src),
            stages, within=60.0, state_ttl=0,
        )
    # forever-retention default: the return trip emits nothing new
    assert run("wf_ttl_off") == [(1, 1), (1, 2)]
    # ttl=100s of event-time inactivity: u1 evicted after ~t=1040,
    # the t=2100 return is a fresh machine and re-emits both depths
    assert run("wf_ttl_on", state_ttl=100.0) == [
        (1, 1), (1, 1), (1, 2), (1, 2)
    ]


def test_streaming_window_funnel_cap_and_replay(spark, tmp_path):
    """earliest-N anchor cap matches batch, and a second availableNow
    run through the same checkpoint emits nothing new."""
    import pandas as pd

    from duckdb_imputation_spark.operators.funnel import window_funnel
    from duckdb_imputation_spark.streaming.funnel_stream import (
        window_funnel_stream,
    )

    base = pd.Timestamp("2024-01-01 00:00:00")

    def T(seconds):
        return (base + pd.Timedelta(seconds=seconds)).to_pydatetime()

    # hot user: anchors every 10s from 0..90; only the @100 anchor
    # converts — cap=3 (earliest anchors 0,10,20) must stall at 1
    rows = [(2, T(10 * i), "view") for i in range(10)] + [
        (2, T(100), "view"), (2, T(150), "click"),
        (5, T(0), "view"), (5, T(20), "click"),
    ]
    edf = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    src = str(tmp_path / "wfc")
    edf.coalesce(1).write.mode("append").parquet(src)
    for s in (100000, 100060):
        spark.createDataFrame(
            [(99, T(s), "view")], "user_id long, ts timestamp, event_type string"
        ).coalesce(1).write.mode("append").parquet(src)

    ckpt = str(tmp_path / "wf_ckpt")
    out_dir = str(tmp_path / "wf_out")

    def run():
        es = (
            spark.readStream.schema(edf.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            window_funnel_stream(
                es, ["view", "click"], within=60.0, watermark="1 minute",
                max_anchors_per_user=3,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = sorted(
        (r.user_id, r.depth)
        for r in spark.read.parquet(out_dir).collect()
        if r.user_id != 99
    )
    want = sorted(
        (r["user_id"], d)
        for r in window_funnel(
            edf, "user_id", "ts", "event_type", ["view", "click"],
            within=60.0, max_anchors_per_user=3,
        ).collect()
        for d in range(1, r["depth"] + 1)
    )
    assert first == want == [(2, 1), (5, 1), (5, 2)]
    run()
    second = sorted(
        (r.user_id, r.depth)
        for r in spark.read.parquet(out_dir).collect()
        if r.user_id != 99
    )
    assert second == first


def test_streaming_window_funnel_repeated_stage_fuzz(spark, tmp_path):
    """Seeded random events over a REPEATED-stage funnel
    (['view','click','view']): sealed stream max-depths equal batch
    window_funnel exactly (the name-matching contract on the
    per-anchor machine)."""
    import random

    import pandas as pd

    from duckdb_imputation_spark.operators.funnel import window_funnel
    from duckdb_imputation_spark.streaming.funnel_stream import (
        window_funnel_stream,
    )

    rng = random.Random(23)
    base = pd.Timestamp("2024-01-01 00:00:00")
    types = ["view", "click", "purchase", "error"]
    rows = []
    for u in range(1, 11):
        for _ in range(rng.randint(0, 20)):
            rows.append(
                (
                    u,
                    (base + pd.Timedelta(seconds=rng.randint(0, 2000)))
                    .to_pydatetime(),
                    rng.choice(types),
                )
            )
    edf = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    src = str(tmp_path / "wff")
    # shuffle arrival: split by a hash, late half first
    edf.filter("user_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    edf.filter("user_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    for s in (100000, 100060):
        spark.createDataFrame(
            [(99, (base + pd.Timedelta(seconds=s)).to_pydatetime(), "view")],
            "user_id long, ts timestamp, event_type string",
        ).coalesce(1).write.mode("append").parquet(src)

    stages = ["view", "click", "view"]

    def run(name, **kw):
        es = (
            spark.readStream.schema(edf.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            window_funnel_stream(
                es, stages, within=300.0, watermark="1 minute", **kw
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = sorted(
            (r.user_id, r.depth)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
            if r.user_id != 99
        )
        got_max = {}
        for u, dep in out:
            got_max[u] = max(got_max.get(u, 0), dep)
        return out, got_max

    rows_default, got_max = run("wf_fuzz")
    want = {
        r["user_id"]: r["depth"]
        for r in window_funnel(
            edf, "user_id", "ts", "event_type", stages, within=300.0
        ).collect()
    }
    assert got_max == want
    # a TTL longer than any inactivity gap in the replay must be
    # behaviorally IDENTICAL to the forever-retention default, row for
    # row — the eviction clock arms and re-arms but never fires (the
    # new-state-schema path exercised with eviction provably off)
    rows_ttl, _ = run("wf_fuzz_ttl", state_ttl=10**9)
    assert rows_ttl == rows_default


def test_streaming_calibration_matches_batch(spark, tmp_path):
    """Live reliability monitor: sealed windowed bin cells equal the
    batch groupBy on the same rows, and scoring the cells recovers the
    batch calibration_curve / calibration_ece per window exactly
    (mergeable-summary law).  Checkpoint replay emits nothing new."""
    import pandas as pd

    from duckdb_imputation_spark.ml.eval import (
        calibration_curve,
        calibration_ece,
    )
    from duckdb_imputation_spark.streaming.eval_stream import (
        calibration_ece_from_bins,
        calibration_score_bins,
        streaming_calibration_counts,
    )

    base = pd.Timestamp("2024-01-01 00:00:00")

    def T(minutes):
        return (base + pd.Timedelta(minutes=minutes)).to_pydatetime()

    # two 1-hour windows of scored events; probs on the milli grid,
    # including the clamp edges
    rows = [
        (1, T(5), 0.95), (0, T(10), 0.95), (1, T(20), 0.42),
        (0, T(30), -0.2), (1, T(40), 1.0),
        (1, T(70), 0.15), (0, T(80), 0.15), (0, T(90), 0.6),
    ]
    edf = spark.createDataFrame(rows, "y int, ts timestamp, p double")
    src = str(tmp_path / "cal")
    edf.filter("ts < timestamp'2024-01-01 01:00:00'").coalesce(1).write.mode("append").parquet(src)
    edf.filter("ts >= timestamp'2024-01-01 01:00:00'").coalesce(1).write.mode("append").parquet(src)
    # nudge: one far-future event seals both windows (built-in windowed
    # agg needs no armed timeouts — emission happens when the watermark
    # passes window end at the NEXT batch)
    spark.createDataFrame(
        [(0, T(10000), 0.5)], "y int, ts timestamp, p double"
    ).coalesce(1).write.mode("append").parquet(src)

    ckpt = str(tmp_path / "cal_ckpt")
    out_dir = str(tmp_path / "cal_out")

    def run():
        es = (
            spark.readStream.schema(edf.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_calibration_counts(
                es, "y", "p", window="1 hour", watermark="1 minute"
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    sealed = spark.read.parquet(out_dir).where(
        "window_start < timestamp'2024-01-01 03:00:00'"
    )
    # law 1: sealed cells == batch groupBy cells on the same rows
    got_cells = {
        (r["window_start"], r["bin"]): (r["n"], r["n_pos"], r["spm"])
        for r in sealed.collect()
    }
    from pyspark.sql import functions as SF

    from duckdb_imputation_spark.ml.eval import _milli_bin

    pm = SF.round(SF.col("p") * 1000.0).cast("long")
    want_cells = {
        (r["ws"], r["bin"]): (r["n"], r["n_pos"], r["spm"])
        for r in edf.groupBy(
            SF.window("ts", "1 hour").start.alias("ws"),
            _milli_bin(pm, 10).alias("bin"),
        )
        .agg(
            SF.count(SF.lit(1)).cast("long").alias("n"),
            SF.sum((SF.col("y") == 1).cast("long")).cast("long").alias("n_pos"),
            SF.sum(pm).cast("long").alias("spm"),
        )
        .collect()
    }
    assert got_cells == want_cells
    # law 2: scoring the cells per window == batch calibration_curve /
    # calibration_ece over that window's raw rows
    for h in (0, 1):
        lo, hi = T(60 * h), T(60 * (h + 1))
        wrows = edf.where(
            (SF.col("ts") >= SF.lit(lo)) & (SF.col("ts") < SF.lit(hi))
        )
        want_curve = {
            r["bin"]: (r["n"], r["n_pos"], r["confidence"], r["accuracy"])
            for r in calibration_curve(wrows, "y", "p").collect()
        }
        got_curve = {
            r["bin"]: (r["n"], r["n_pos"], r["confidence"], r["accuracy"])
            for r in calibration_score_bins(sealed).collect()
            if r["window_start"] == lo
        }
        assert got_curve == want_curve, h
        want_ece = calibration_ece(wrows, "y", "p").collect()[0]["ece"]
        got_ece = [
            r["ece"]
            for r in calibration_ece_from_bins(sealed).collect()
            if r["window_start"] == lo
        ]
        assert got_ece == [want_ece], h
    # law 3: the two windows' cells MERGE to the global diagram
    merged = {
        r["bin"]: (r["n"], r["n_pos"], r["confidence"], r["accuracy"])
        for r in calibration_score_bins(sealed, group_cols=[]).collect()
    }
    want_global = {
        r["bin"]: (r["n"], r["n_pos"], r["confidence"], r["accuracy"])
        for r in calibration_curve(edf, "y", "p").collect()
    }
    assert merged == want_global
    # replay: nothing new lands
    n_before = spark.read.parquet(out_dir).count()
    run()
    assert spark.read.parquet(out_dir).count() == n_before
