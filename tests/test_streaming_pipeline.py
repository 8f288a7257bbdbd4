"""Stateless streaming corpus pipeline (streaming/pipeline.py) + the
row-local-operators-apply-to-streams property."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazon_lookout_for_equipment_python_sdk_spark.operators import text as tx
from amazon_lookout_for_equipment_python_sdk_spark.operators.corpus import (
    contamination_check,
)
from amazon_lookout_for_equipment_python_sdk_spark.streaming.pipeline import (
    streaming_contamination_check,
)


def _write_docs(path, rows):
    with open(path, "w") as f:
        f.write("doc_id|text\n")
        for i, t in rows:
            f.write(f"{i}|{t}\n")


_DOCS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "alpha beta gamma delta epsilon completely different tail here"),
    (3, "nothing in common with the benchmark at all whatsoever"),
    (4, "short"),
    (5, "the eval suite holds this exact sentence for leak testing"),
]
_EVAL = [
    (100, "alpha beta gamma delta epsilon zeta"),
    (101, "the eval suite holds this exact sentence for leak testing"),
]


def test_streaming_contamination_matches_batch(spark, tmp_path):
    eval_df = spark.createDataFrame(_EVAL, "doc_id long, text string")
    indir = tmp_path / "in"
    indir.mkdir()

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("header", True)
        .option("sep", "|")
        .csv(str(indir / "*.csv"))
    )
    # replay in two micro-batches
    _write_docs(indir / "b1.csv", _DOCS[:3])
    q = streaming_contamination_check(
        stream, eval_df, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        shingle_n=3,
    )
    q.awaitTermination()
    _write_docs(indir / "b2.csv", _DOCS[3:])
    q = streaming_contamination_check(
        stream, eval_df, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        shingle_n=3,
    )
    q.awaitTermination()

    got = sorted(
        (r["doc_id"], r["n_sh"], r["n_hit"], r["contamination"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    batch = spark.createDataFrame(_DOCS, "doc_id long, text string")
    want = sorted(
        (r["doc_id"], r["n_sh"], r["n_hit"], r["contamination"])
        for r in contamination_check(batch, eval_df, shingle_n=3).collect()
    )
    assert got == want
    # sanity: doc 5 is fully contaminated, doc 3 clean, doc 4 shingle-less
    by_id = {t[0]: t for t in got}
    assert by_id[5][2] > 0 and by_id[5][3] == 1.0
    assert by_id[3][2] == 0
    assert by_id[4][1] == 0 and by_id[4][3] is None


def test_row_local_operators_accept_streams(spark, tmp_path):
    """text_stats / quality_filter / lang_id are row-local plans — they
    must transform a streaming DataFrame directly (no foreachBatch)."""
    indir = tmp_path / "in"
    indir.mkdir()
    _write_docs(indir / "b1.csv", _DOCS)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("header", True)
        .option("sep", "|")
        .csv(str(indir / "*.csv"))
    )
    out = tx.text_stats(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("ts_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from ts_stream").collect()
    assert len(rows) == len(_DOCS)
    batch_rows = tx.text_stats(
        spark.createDataFrame(_DOCS, "doc_id long, text string")
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, batch_rows))


def test_stream_stream_attribution_matches_batch(spark, tmp_path):
    """Stream-stream interval join: replaying clicks/purchases through
    two availableNow passes yields exactly the batch interval-join pairs
    (watermark generous enough that no pair is dropped), and pairs that
    straddle the micro-batch boundary DO surface."""
    import pandas as pd
    from pyspark.sql import functions as F

    from amazon_lookout_for_equipment_python_sdk_spark.streaming.pipeline import (
        stream_stream_attribution,
    )

    base = 1_700_000_000
    rows = []  # (event_type, event_id, user_id, tsec, value)
    rows += [("click", 1, 10, base + 0, 0.0)]
    rows += [("purchase", 2, 10, base + 600, 30.0)]   # within 1h -> pair
    rows += [("click", 3, 11, base + 0, 0.0)]
    rows += [("purchase", 4, 11, base + 7200, 40.0)]  # outside 1h -> no
    rows += [("click", 5, 12, base + 1000, 0.0)]      # batch 1
    rows += [("purchase", 6, 12, base + 1500, 50.0)]  # batch 2 (straddles)
    rows += [("purchase", 7, 13, base + 100, 60.0)]   # purchase, no click

    def batch_expected():
        df = spark.createDataFrame(
            rows, "event_type string, event_id long, user_id long, tsec long, value double"
        ).withColumn("ts", F.timestamp_seconds("tsec"))
        c = df.filter("event_type = 'click'").select(
            "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
        )
        p = df.filter("event_type = 'purchase'").select(
            F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"), F.col("value").alias("purchase_value"),
        )
        return sorted(
            (r["click_id"], r["purchase_id"])
            for r in c.join(
                p,
                (F.col("user_id") == F.col("p_user_id"))
                & (F.col("purchase_ts") > F.col("click_ts"))
                & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 3600 SECONDS")),
            ).collect()
        )

    indir = tmp_path / "att_in"
    indir.mkdir()

    def write_batch(name, evs):
        with open(indir / name, "w") as f:
            f.write("event_type|event_id|user_id|tsec|value\n")
            for e in evs:
                f.write("|".join(map(str, e)) + "\n")

    def run_once():
        stream = (
            spark.readStream.schema(
                "event_type string, event_id long, user_id long, tsec long, value double"
            )
            .option("header", True)
            .option("sep", "|")
            .csv(str(indir / "*.csv"))
            .withColumn("ts", F.timestamp_seconds("tsec"))
        )
        clicks = stream.filter("event_type = 'click'")
        purchases = stream.filter("event_type = 'purchase'")
        q = (
            stream_stream_attribution(clicks, purchases, within_s=3600,
                                      watermark_s=100_000)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "att_out"))
            .option("checkpointLocation", str(tmp_path / "att_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch("b1.csv", rows[:5])
    run_once()
    write_batch("b2.csv", rows[5:])
    run_once()

    got = sorted(
        (r["click_id"], r["purchase_id"])
        for r in spark.read.parquet(str(tmp_path / "att_out")).collect()
    )
    want = batch_expected()
    assert got == want == [(1, 2), (5, 6)]


def test_streaming_quarantine_gate(spark, tmp_path):
    """Micro-batched expectations gate: clean rows reach the main table,
    violations land in quarantine with per-rule attribution — across two
    availableNow passes."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators import dq
    from amazon_lookout_for_equipment_python_sdk_spark.streaming.pipeline import (
        streaming_quarantine,
    )

    indir = tmp_path / "q_in"
    indir.mkdir()
    rules = [
        dq.not_null("event_id"),
        dq.in_range("value", 0.0, 100.0),
    ]

    def write_batch(name, rows):
        with open(indir / name, "w") as f:
            f.write("event_id|value\n")
            for eid, v in rows:
                f.write(f"{'' if eid is None else eid}|{v}\n")

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, value double")
            .option("header", True)
            .option("sep", "|")
            .csv(str(indir / "*.csv"))
        )
        q = streaming_quarantine(
            stream, rules,
            str(tmp_path / "clean"), str(tmp_path / "bad"),
            str(tmp_path / "q_ckpt"),
        )
        q.awaitTermination()

    write_batch("b1.csv", [(1, 5.0), (2, -3.0)])
    run_once()
    write_batch("b2.csv", [(None, 7.0), (4, 50.0)])
    run_once()

    clean = {r["event_id"] for r in spark.read.parquet(str(tmp_path / "clean")).collect()}
    assert clean == {1, 4}
    bad = {
        r["event_id"]: list(r["dq_failures"])
        for r in spark.read.parquet(str(tmp_path / "bad")).collect()
    }
    assert bad[2] == ["in_range(value,0.0,100.0)"]
    assert bad[None] == ["not_null(event_id)"]


def test_streaming_scd2_builds_history_across_batches(spark, tmp_path):
    """Two micro-batches of updates fold into the SCD-2 history: batch 1
    inserts, batch 2 closes changed versions and opens new ones; in-batch
    duplicate keys compact to the latest first."""
    from amazon_lookout_for_equipment_python_sdk_spark.streaming.pipeline import (
        streaming_scd2,
    )

    indir = tmp_path / "s2_in"
    indir.mkdir()
    hist_path = str(tmp_path / "hist")

    def write_batch(name, rows):
        with open(indir / name, "w") as f:
            f.write("k|attr|tsec\n")
            for k, a, t in rows:
                f.write(f"{k}|{a}|{t}\n")

    def run_once():
        stream = (
            spark.readStream.schema("k long, attr string, tsec long")
            .option("header", True)
            .option("sep", "|")
            .csv(str(indir / "*.csv"))
            .withColumn("ts", F.timestamp_seconds("tsec"))
            .drop("tsec")
        )
        q = streaming_scd2(
            stream, hist_path, str(tmp_path / "s2_ckpt"),
            keys=["k"], attrs=["attr"],
        )
        q.awaitTermination()

    base = 1_700_000_000
    # batch 1: k=1 arrives twice (compacts to 'b'), k=2 once
    write_batch("b1.csv", [(1, "a", base), (1, "b", base + 10), (2, "x", base)])
    run_once()
    h1 = {
        (r["k"], r["attr"], r["valid_to"] is None)
        for r in spark.read.parquet(hist_path).collect()
    }
    assert h1 == {(1, "b", True), (2, "x", True)}

    # batch 2: k=1 changes, k=2 unchanged, k=3 new
    write_batch("b2.csv", [(1, "c", base + 100), (2, "x", base + 100),
                           (3, "n", base + 100)])
    run_once()
    rows = spark.read.parquet(hist_path).collect()
    cur = {(r["k"], r["attr"]) for r in rows if r["valid_to"] is None}
    closed = {(r["k"], r["attr"]) for r in rows if r["valid_to"] is not None}
    assert cur == {(1, "c"), (2, "x"), (3, "n")}
    assert closed == {(1, "b")}


def test_native_session_window_streaming_matches_batch(spark, tmp_path):
    """Spark's built-in session_window in STREAMING append mode: closed
    sessions (watermark passed) match the batch session_window rollup,
    including a session straddling the micro-batch boundary."""
    from pyspark.sql import functions as F

    base = 1_700_000_000
    gap_s = 600
    rows = [
        # user 10: one session across batches (gap 100 < 600)
        (10, base), (10, base + 100),            # batch 1
        (10, base + 650),                        # batch 2, still in session
        # user 11: two sessions (gap 1200 > 600)
        (11, base), (11, base + 1200),
        # watermark pusher
        (99, base + 100_000),
    ]
    b1, b2 = rows[:2] + rows[3:4], rows[2:3] + rows[4:]

    indir = tmp_path / "sw_in"
    indir.mkdir()

    def write_batch(name, evs):
        with open(indir / name, "w") as f:
            f.write("user_id|tsec\n")
            for u, t in evs:
                f.write(f"{u}|{t}\n")

    def run_once():
        stream = (
            spark.readStream.schema("user_id long, tsec long")
            .option("header", True)
            .option("sep", "|")
            .csv(str(indir / "*.csv"))
            .withColumn("ts", F.timestamp_seconds("tsec"))
            .withWatermark("ts", "0 seconds")
        )
        agg = (
            stream.groupBy(
                "user_id", F.session_window("ts", f"{gap_s} seconds")
            )
            .agg(F.count("*").alias("n"))
            .select(
                "user_id",
                F.col("session_window.start").alias("start"),
                "n",
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(tmp_path / "sw_out"))
            .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch("b1.csv", b1)
    run_once()
    write_batch("b2.csv", b2)
    run_once()

    got = {
        (r["user_id"], int(r["start"].timestamp()), r["n"])
        for r in spark.read.parquet(str(tmp_path / "sw_out")).collect()
    }
    # batch truth over the same rows (closed sessions only: all but 99's)
    batch = (
        spark.createDataFrame(rows, "user_id long, tsec long")
        .withColumn("ts", F.timestamp_seconds("tsec"))
        .groupBy("user_id", F.session_window("ts", f"{gap_s} seconds"))
        .agg(F.count("*").alias("n"))
        .select(
            "user_id", F.col("session_window.start").alias("start"), "n"
        )
    )
    want = {
        (r["user_id"], int(r["start"].timestamp()), r["n"])
        for r in batch.collect()
        if r["user_id"] != 99  # 99's session is still open at stream end
    }
    assert want <= got  # every closed session surfaced, batch-identical
    assert (10, base, 3) in got  # merged ACROSS the micro-batch boundary
    assert (11, base, 1) in got and (11, base + 1200, 1) in got


def test_streaming_scd2_bucket_pruned_layout(spark, tmp_path):
    """With a scd2_write_bucketed history, the streaming sink must take
    the bucket-pruned path: merge results identical to the plain path,
    and untouched bucket files NOT rewritten across a batch."""
    import os

    from amazon_lookout_for_equipment_python_sdk_spark.operators.merge import (
        scd2_write_bucketed,
    )
    from amazon_lookout_for_equipment_python_sdk_spark.streaming.pipeline import (
        streaming_scd2,
    )

    indir = tmp_path / "s2b_in"
    indir.mkdir()
    hist_path = str(tmp_path / "hist_b")
    base = 1_700_000_000
    seed = spark.createDataFrame(
        [(k, "v", base) for k in range(40)], "k long, attr string, tsec long"
    ).select(
        "k", "attr",
        F.timestamp_seconds("tsec").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    scd2_write_bucketed(seed, hist_path, ["k"], n_buckets=4)

    def snap():
        return {
            os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
            for r, _d, fs in os.walk(hist_path)
            for f in fs
            if "_bucket=" in r
        }

    before = snap()
    with open(indir / "b1.csv", "w") as f:
        f.write("k|attr|tsec\n")
        f.write(f"5|CHANGED|{base + 100}\n")
    stream = (
        spark.readStream.schema("k long, attr string, tsec long")
        .option("header", True)
        .option("sep", "|")
        .csv(str(indir / "*.csv"))
        .withColumn("ts", F.timestamp_seconds("tsec"))
        .drop("tsec")
    )
    q = streaming_scd2(
        stream, hist_path, str(tmp_path / "s2b_ckpt"),
        keys=["k"], attrs=["attr"],
    )
    q.awaitTermination()
    rows = spark.read.parquet(hist_path).collect()
    cur = {(r["k"], r["attr"]) for r in rows if r["valid_to"] is None}
    assert (5, "CHANGED") in cur and len(cur) == 40
    closed = {(r["k"], r["attr"]) for r in rows if r["valid_to"] is not None}
    assert closed == {(5, "v")}
    after = snap()
    untouched_same = [
        p for p in before
        if p in after and after[p] == before[p]
    ]
    # at least the three untouched bucket dirs' files survived unrewritten
    assert len(untouched_same) >= 3, (before, after)


def test_streaming_dsir_scoring_matches_batch(spark, tmp_path):
    """DSIR scoring is per-document work against a broadcast log-ratio
    table, so a trained selector streams through foreach_batch_apply:
    two micro-batches of raw docs must score bit-identically to the
    batch pass (the online data-selection serving shape)."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.dsir import (
        dsir_logratio,
        dsir_scores,
        hashed_ngram_counts,
    )
    from amazon_lookout_for_equipment_python_sdk_spark.streaming.pipeline import (
        foreach_batch_apply,
    )

    target = spark.createDataFrame(
        [(i, "alpha beta gamma alpha beta") for i in range(4)],
        "doc_id long, text string",
    )
    raw_rows = [
        (100, "alpha beta gamma beta"),
        (101, "zeta eta theta iota"),
        (102, "alpha beta alpha beta"),
        (103, "eta theta alpha iota"),
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    lr = dsir_logratio(
        hashed_ngram_counts(raw, 256), hashed_ngram_counts(target, 256), 256
    )
    # freeze the trained table (serving: the B-row model is a static side)
    lr_path = str(tmp_path / "lr")
    lr.write.parquet(lr_path)
    lr_static = spark.read.parquet(lr_path)

    indir = tmp_path / "dsir_in"
    indir.mkdir()

    def write_batch(name, rows):
        with open(indir / name, "w") as f:
            f.write("doc_id|text\n")
            for i, t in rows:
                f.write(f"{i}|{t}\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("header", True)
        .option("sep", "|")
        .csv(str(indir / "*.csv"))
    )

    def score(batch_df):
        return dsir_scores(hashed_ngram_counts(batch_df, 256), lr_static)

    write_batch("b1.csv", raw_rows[:2])
    foreach_batch_apply(
        stream, score, str(tmp_path / "out"), str(tmp_path / "ckpt")
    ).awaitTermination()
    write_batch("b2.csv", raw_rows[2:])
    foreach_batch_apply(
        stream, score, str(tmp_path / "out"), str(tmp_path / "ckpt")
    ).awaitTermination()

    got = sorted(
        (r["doc_id"], r["n_grams"], r["logw"])
        for r in spark.read.parquet(str(tmp_path / "out"))
        .drop("batch_epoch")
        .collect()
    )
    want = sorted(
        (r["doc_id"], r["n_grams"], r["logw"])
        for r in dsir_scores(hashed_ngram_counts(raw, 256), lr_static).collect()
    )
    assert got == want and len(got) == 4


def test_streaming_gorilla_archiver_matches_batch_points(spark, tmp_path):
    """Online archiving: each micro-batch Gorilla-compresses its
    (key, window) blocks through foreach_batch_apply; decompressing the
    accumulated archive must recover every streamed point exactly (block
    fragmentation across epochs is expected — compaction's job, not the
    archiver's)."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.gorilla import (
        compress_series,
        decompress_series,
    )
    from amazon_lookout_for_equipment_python_sdk_spark.streaming.pipeline import (
        foreach_batch_apply,
    )

    base = 1_700_000_000
    rows = [
        ("a", base + i * 60, round(100 + i * 0.1, 1)) for i in range(40)
    ] + [("b", base + i * 30, 50.0) for i in range(20)]

    indir = tmp_path / "g_in"
    indir.mkdir()

    def write_batch(name, batch):
        with open(indir / name, "w") as f:
            f.write("k|tsec|value\n")
            for k, t, v in batch:
                f.write(f"{k}|{t}|{v}\n")

    stream = (
        spark.readStream.schema("k string, tsec long, value double")
        .option("header", True)
        .option("sep", "|")
        .csv(str(indir / "*.csv"))
        .withColumn("ts", F.timestamp_seconds("tsec"))
        .drop("tsec")
    )

    def archive(batch_df):
        return compress_series(
            batch_df, key_col="k", block_hours=1
        )

    write_batch("b1.csv", rows[:30])
    foreach_batch_apply(
        stream, archive, str(tmp_path / "g_out"), str(tmp_path / "g_ckpt")
    ).awaitTermination()
    write_batch("b2.csv", rows[30:])
    foreach_batch_apply(
        stream, archive, str(tmp_path / "g_out"), str(tmp_path / "g_ckpt")
    ).awaitTermination()

    blocks = spark.read.parquet(str(tmp_path / "g_out")).drop("batch_epoch")
    back = decompress_series(blocks, key_col="k")
    got = sorted(
        (r["k"], r["ts"].timestamp(), r["value"]) for r in back.collect()
    )
    want = sorted((k, float(t), v) for k, t, v in rows)
    assert got == want


def test_streaming_span_decontamination_matches_batch(spark, tmp_path):
    """r7: the span-level decontaminate+cut runs per micro-batch against
    the static eval side and replays batch-identical under any batch
    split — a doc's spans depend only on its own grams."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.dedup import (
        decontaminate_spans,
        remove_duplicate_spans,
    )
    from amazon_lookout_for_equipment_python_sdk_spark.streaming.pipeline import (
        streaming_decontaminate_spans,
    )

    eval_df = spark.createDataFrame(_EVAL, "doc_id long, text string")
    indir = tmp_path / "in_spans"
    indir.mkdir()
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("header", True)
        .option("sep", "|")
        .csv(str(indir / "*.csv"))
    )
    _write_docs(indir / "b1.csv", _DOCS[:2])
    q = streaming_decontaminate_spans(
        stream, eval_df, str(tmp_path / "out_spans"),
        str(tmp_path / "ckpt_spans"), k=20,
    )
    q.awaitTermination()
    _write_docs(indir / "b2.csv", _DOCS[2:])
    q = streaming_decontaminate_spans(
        stream, eval_df, str(tmp_path / "out_spans"),
        str(tmp_path / "ckpt_spans"), k=20,
    )
    q.awaitTermination()

    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(tmp_path / "out_spans")).collect()
    }
    batch = spark.createDataFrame(_DOCS, "doc_id long, text string")
    want = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(
            batch, decontaminate_spans(batch, eval_df, k=20)
        ).collect()
    }
    assert got == want
    # the verbatim-leaked doc 5 loses its leaked sentence; doc 3 untouched
    assert "exact sentence" not in got[5]
    assert got[3] == _DOCS[2][1]


def test_foreach_batch_unpersists_per_batch_caches(spark, tmp_path):
    """r8 (ADVICE r7): a batch fn that persists (decontaminate_spans'
    sliver, duplicate_spans' cand) must not leak one cached frame per
    micro-batch — foreach_batch_apply tracks the frames the fn itself
    persists (explicit registry since r12; thread-local probe r9-r11)
    and unpersists them once the epoch's output has materialized.
    User fns opt in with ``tracked_persist`` — the public contract."""
    import pyspark.sql.functions as F

    from amazon_lookout_for_equipment_python_sdk_spark.streaming.pipeline import (
        foreach_batch_apply,
        tracked_persist,
    )

    src = tmp_path / "src"
    spark.range(100).withColumn("v", F.col("id") * 2).write.parquet(str(src))

    def per_batch(b):
        cached = tracked_persist(b.withColumn("w", F.col("v") + 1))
        cached.count()
        return cached

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    q = foreach_batch_apply(
        spark.readStream.schema("id long, v long").parquet(str(src)),
        per_batch,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), "per-batch cache leaked past its epoch"
    rows = spark.read.parquet(str(tmp_path / "out"))
    assert rows.count() == 100


def test_foreach_batch_cleanup_spares_concurrent_persists(spark):
    """r9 (ADVICE r8): the pre-r9 cleanup diffed the SESSION-GLOBAL
    persistent-RDD set, so with two concurrent streams (or any
    concurrent persisting job) in one session, one stream's epoch
    cleanup could unpersist the other's still-needed cache.  The
    thread-local registry collects only the frames registered by code
    running inside the tracking context ON ITS OWN THREAD — a bystander
    persisting concurrently on another thread is untouched, and nesting
    restores the outer collector."""
    import threading

    import pyspark.sql.functions as F

    from amazon_lookout_for_equipment_python_sdk_spark.streaming.pipeline import (
        _track_persists,
        tracked_persist,
    )

    bystander_ready = threading.Event()
    release_batch = threading.Event()
    bystander_holder = []

    def bystander():
        # persists WHILE the tracked "batch" is open on the main thread;
        # tracked_persist on a thread with NO open collector is a plain
        # persist — never captured by another thread's context
        df = tracked_persist(spark.range(50).withColumn("b", F.col("id") * 3))
        df.count()
        bystander_holder.append(df)
        bystander_ready.set()
        release_batch.wait(30)

    t = threading.Thread(target=bystander)
    with _track_persists() as cached:
        t.start()
        assert bystander_ready.wait(30)
        own = tracked_persist(spark.range(10).withColumn("a", F.col("id") + 1))
        own.count()
        # nested context owns ITS frames; outer must not double-free them
        with _track_persists() as inner:
            nested = tracked_persist(spark.range(5))
            nested.count()
        # identity checks: == on DataFrames builds a Column, never use it
        assert len(inner) == 1 and inner[0] is nested
        assert all(f is not nested for f in cached)
        nested.unpersist(False)
        release_batch.set()
    t.join(30)

    assert len(cached) == 1 and cached[0] is own, (
        "probe caught a frame another thread persisted"
    )
    bystander = bystander_holder[0]
    assert bystander.storageLevel.useMemory, "bystander cache was dropped"
    own.unpersist(False)
    bystander.unpersist(False)


def test_foreach_batch_warns_on_invisible_persists(spark, tmp_path):
    """r9 ADVICE (registry since r12): persists made outside the
    explicit registry (raw DataFrame.persist in a user fn, rdd.persist,
    Connect frames) are invisible — they'd silently reaccumulate one
    cache per epoch.  foreach_batch_apply compares the session's
    persistent-RDD count across the batch and warns when it grew while
    the registry recorded nothing."""
    import warnings

    import pyspark.sql.functions as F

    from amazon_lookout_for_equipment_python_sdk_spark.streaming.pipeline import (
        foreach_batch_apply,
    )

    src = tmp_path / "src"
    spark.range(20).withColumn("v", F.col("id") * 2).write.parquet(str(src))
    leaked = []

    def per_batch(b):
        out = b.withColumn("w", F.col("v") + 1)
        out.rdd.persist()  # probe-invisible path
        out.rdd.count()
        leaked.append(out.rdd)
        return out

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        q = foreach_batch_apply(
            spark.readStream.schema("id long, v long").parquet(str(src)),
            per_batch,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
    for r in leaked:
        r.unpersist()
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert any("registry recorded no frames" in m for m in msgs), msgs


def test_foreach_batch_warns_on_raw_dataframe_persist(spark, tmp_path):
    """r12 contract change: a user batch fn persisting through the RAW
    DataFrame.persist API (not ``tracked_persist``) is no longer
    captured by epoch cleanup — it must trip the same advisory warning
    as the other invisible paths."""
    import warnings

    import pyspark.sql.functions as F

    from amazon_lookout_for_equipment_python_sdk_spark.streaming.pipeline import (
        foreach_batch_apply,
    )

    src = tmp_path / "src"
    spark.range(20).withColumn("v", F.col("id") * 2).write.parquet(str(src))
    leaked = []

    def per_batch(b):
        cached = b.withColumn("w", F.col("v") + 1).persist()  # raw path
        cached.count()
        leaked.append(cached)
        return cached

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        q = foreach_batch_apply(
            spark.readStream.schema("id long, v long").parquet(str(src)),
            per_batch,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
    for f in leaked:
        f.unpersist(False)
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert any("registry recorded no frames" in m for m in msgs), msgs
