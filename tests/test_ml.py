"""ML pipeline tests: deterministic synthetic anomaly, end-to-end
train -> score -> ranges -> ranking (the tutorial flow, SURVEY §5.3)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from amazon_lookout_for_equipment_python_sdk_spark.ml import (
    AnomalyDetector,
    ModelConfig,
    ModelEvaluation,
    model_metrics_json,
    ranges_from_model_metrics,
)


@pytest.fixture(scope="module")
def synthetic_long(spark):
    """3 correlated signals on a 1-min grid for 2 days; minutes 1500-1559
    break the correlation (the anomaly), plus an off period at 2000-2099."""
    rows = []
    for i in range(2880):
        base = math.sin(i / 60.0) * 10 + 50
        anom = 1500 <= i < 1560
        off = 2000 <= i < 2100
        ts = f"2024-03-{1 + i // 1440:02d} {(i % 1440) // 60:02d}:{i % 60:02d}:00"
        rows.append((ts, "s1", 0.0 if off else base + (i % 7) * 0.1))
        rows.append((ts, "s2", base * 2 + (25 if anom else 0) + (i % 5) * 0.1))
        rows.append((ts, "s3", base - (30 if anom else 0) + (i % 3) * 0.1))
    return spark.createDataFrame(rows, "ts string, tag string, value double").select(
        F.to_timestamp("ts").alias("ts"), "tag", "value"
    )


def test_train_score_detects_anomaly(spark, synthetic_long):
    cfg = ModelConfig(
        model_name="m1",
        sampling_rate="PT5M",
        training_start="2024-03-01 00:00:00",
        training_end="2024-03-02 00:00:00",
        threshold_quantile=0.995,
    )
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    assert cfg.status == "SUCCESS"
    scored = det.transform(synthetic_long)
    rows = scored.collect()
    assert all(r["anomaly_score"] is not None for r in rows)
    assert all(0.0 <= r["anomaly_score"] < 1.0 for r in rows)
    # anomalous window (minute 1500..1559 = 2024-03-02 01:00..02:00)
    anom = [
        r
        for r in rows
        if r["timestamp"].day == 2 and 1 <= r["timestamp"].hour < 2
    ]
    frac = sum(r["prediction"] for r in anom) / len(anom)
    assert frac > 0.8, f"only {frac:.0%} of anomaly window flagged"
    # normal training day should be mostly clean
    normal = [r for r in rows if r["timestamp"].day == 1]
    frac_n = sum(r["prediction"] for r in normal) / len(normal)
    assert frac_n < 0.05, f"{frac_n:.0%} false positives on training day"


def test_diagnostics_sum_to_one(spark, synthetic_long):
    cfg = ModelConfig(model_name="m2", sampling_rate="PT5M")
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    scored = det.transform(synthetic_long, component="machine")
    diag_rows = scored.filter(F.col("prediction") == 1).collect()
    assert diag_rows, "no predicted anomalies to check"
    for r in diag_rows:
        total = sum(d["value"] for d in r["diagnostics"])
        assert abs(total - 1.0) < 1e-9  # plot.py:902-903 contract
        names = {d["name"] for d in r["diagnostics"]}
        assert names == {"machine\\s1", "machine\\s2", "machine\\s3"}
    # prediction==0 rows carry no diagnostics (scheduler.py:647-650)
    assert (
        scored.filter(
            (F.col("prediction") == 0) & F.col("diagnostics").isNotNull()
        ).count()
        == 0
    )


def test_frozen_tags_missing_raises(spark, synthetic_long):
    """transform() must pivot against the fit-time tag list: inference data
    missing a trained tag raises (from the in-plan guard, at action time)
    instead of silently mis-scaling."""
    cfg = ModelConfig(model_name="m3b", sampling_rate="PT5M")
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    assert det.tags == ["s1", "s2", "s3"]
    bad = det.transform(synthetic_long.filter(F.col("tag") != "s3"))
    with pytest.raises(Exception, match="missing: s3"):
        bad.count()
    # extra tags in the input are ignored; trained tag set stays frozen
    extra = synthetic_long.union(
        synthetic_long.filter(F.col("tag") == "s1").withColumn(
            "tag", F.lit("s9")
        )
    )
    out = det.transform(extra)
    assert det.tags == ["s1", "s2", "s3"]
    assert out.count() > 0


def test_transform_is_fully_lazy(spark, synthetic_long):
    """The r2-flagged per-transform tag-discovery job is gone: building
    transform()'s plan triggers ZERO Spark jobs (the scheduler calls it
    per slot per micro-batch), and the frozen-tag pivot still scores."""
    cfg = ModelConfig(model_name="m3lazy", sampling_rate="PT5M")
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    sc = spark.sparkContext
    sc.setJobGroup("transform-lazy-check", "must stay empty")
    try:
        scored = det.transform(synthetic_long)
    finally:
        sc.setJobGroup("transform-lazy-after", "actions ok")
    jobs = sc.statusTracker().getJobIdsForGroup("transform-lazy-check")
    assert list(jobs) == [], jobs
    assert scored.count() > 0


def test_wide_input_equivalent(spark, synthetic_long):
    """Training on a wide ('tabular') frame via wide_input matches the
    long-layout fit bit-for-bit."""
    wide = (
        synthetic_long.groupBy(F.col("ts").alias("Timestamp"))
        .pivot("tag", ["s1", "s2", "s3"])
        .agg(F.first("value"))
    )
    back = AnomalyDetector.wide_input(wide)
    assert back.columns == ["ts", "tag", "value"]
    assert back.count() == synthetic_long.count()
    joined = back.join(
        synthetic_long.withColumnRenamed("value", "_v"), ["ts", "tag"]
    )
    assert joined.filter(F.col("value") != F.col("_v")).count() == 0


def test_model_metrics_roundtrip(spark):
    """N2 interop: reference-format ModelMetrics JSON <-> (start, end)
    ranges frames, bit-identical both ways (evaluation.py:96-117)."""
    pred = spark.createDataFrame(
        [
            ("2024-03-02 01:00:00", "2024-03-02 02:00:00"),
            ("2024-03-02 05:00:00", "2024-03-02 05:30:00"),
        ],
        "start string, end string",
    ).select(
        F.to_timestamp("start").alias("start"), F.to_timestamp("end").alias("end")
    )
    doc = model_metrics_json(pred, labeled=None)
    back = ranges_from_model_metrics(spark, doc, "predicted_ranges")
    assert back.schema.simpleString() == "struct<start:timestamp,end:timestamp>"
    assert [
        (r["start"].isoformat(), r["end"].isoformat())
        for r in back.orderBy("start").collect()
    ] == [
        ("2024-03-02T01:00:00", "2024-03-02T02:00:00"),
        ("2024-03-02T05:00:00", "2024-03-02T05:30:00"),
    ]
    # empty side decodes to an empty (start, end) frame, not a crash
    empty = ranges_from_model_metrics(spark, doc, "labeled_ranges")
    assert empty.count() == 0
    assert empty.columns == ["start", "end"]
    # reference-literal payloads: T-separated stamps WITH fractional
    # seconds (the SDK's own %Y-%m-%dT%H:%M:%S.%f, dataset.py:163) and
    # WITHOUT — both must decode to the same instants and round-trip
    # through model_metrics_json to the identical canonical document
    with_frac = (
        '{"labeled_ranges": [{"start": "2021-01-05T12:00:00.000000", '
        '"end": "2021-01-06T00:00:00.000000"}], "predicted_ranges": []}'
    )
    no_frac = (
        '{"labeled_ranges": [{"start": "2021-01-05T12:00:00", '
        '"end": "2021-01-06T00:00:00"}], "predicted_ranges": []}'
    )
    decoded = []
    for payload in (with_frac, no_frac):
        lab = ranges_from_model_metrics(spark, payload, "labeled_ranges")
        rows = lab.orderBy("start").collect()
        assert [(r["start"].isoformat(), r["end"].isoformat()) for r in rows] == [
            ("2021-01-05T12:00:00", "2021-01-06T00:00:00")
        ]
        decoded.append(model_metrics_json(None, labeled=lab))
    # both formats re-encode to the same reference wire document
    assert decoded[0] == decoded[1]
    assert '"2021-01-05T12:00:00.000000"' in decoded[0]


def test_untrained_raises(spark, synthetic_long):
    det = AnomalyDetector(ModelConfig(model_name="m3"))
    with pytest.raises(RuntimeError, match="not trained"):
        det.transform(synthetic_long)


def test_off_condition_excludes_slots(spark, synthetic_long):
    # s1 sits near 50 when running and 0.0 when off -> 's1 < 1.0' marks
    # OFF-time (reference model.py:194-208 semantics); those slots drop
    cfg = ModelConfig(
        model_name="m4", sampling_rate="PT5M", off_condition="machine\\s1 < 1.0"
    )
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    scored = det.transform(synthetic_long)
    # off window 2024-03-02 09:20..11:00 (minutes 2000-2099): s1==0 -> excluded
    n_off = scored.filter(
        (F.col("timestamp") >= F.lit("2024-03-02 09:30:00"))
        & (F.col("timestamp") < F.lit("2024-03-02 11:00:00"))
    ).count()
    assert n_off == 0


def test_evaluation_chain(spark, synthetic_long):
    cfg = ModelConfig(model_name="m5", sampling_rate="PT5M",
                      threshold_quantile=0.995)
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    scored = det.transform(synthetic_long)
    labels = spark.createDataFrame(
        [("2024-03-02 01:00:00", "2024-03-02 02:00:00")], "start string, end string"
    ).select(
        F.to_timestamp("start").alias("start"), F.to_timestamp("end").alias("end")
    )
    ev = ModelEvaluation(scored, labels, sampling_rate_s=300)
    pr = ev.predicted_ranges().collect()
    assert pr, "no predicted ranges"
    # at least one predicted range overlaps the label window
    assert any(
        r["start"].day == 2 and 0 <= r["start"].hour <= 2 for r in pr
    ), pr
    stamped = ev.stamped_points()
    counts = {r["prediction"]: r["count"] for r in
              stamped.groupBy("prediction").count().collect()}
    assert counts.get(2, 0) > 0  # labeled points present
    # exclude the s1 off-window (minutes 2000+) — it would dominate the
    # shift ranking and isn't part of the labeled anomaly under test
    rank_input = synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 09:00:00"))
    ranked = ev.rank_signals(rank_input).collect()
    assert len(ranked) == 3
    assert all(r["distance"] >= 0 for r in ranked)
    ds = [r["distance"] for r in ranked]
    assert ds == sorted(ds, reverse=True)
    # the reference's density-vector semantic rewards concentration, not
    # shift — the textbook raw-sample EMD extension must rank the shifted
    # signals (s2 +25, s3 -30) above the unshifted s1
    from amazon_lookout_for_equipment_python_sdk_spark.operators.wasserstein import (
        raw_sample_emd,
    )

    stamped = ev.stamped_points()
    tagged = rank_input.join(
        stamped.withColumnRenamed("timestamp", "ts"), "ts", "inner"
    ).withColumn(
        "subset", F.when(F.col("prediction") == 0, "normal").otherwise("anomalous")
    )
    emd = {
        r["tag"]: r["emd"]
        for r in raw_sample_emd(tagged, "subset", "normal", "anomalous").collect()
    }
    assert emd["s2"] > emd["s1"] and emd["s3"] > emd["s1"], emd


def test_evaluation_plots_end_to_end(spark, synthetic_long, tmp_path):
    """Tutorial flow §2.13: train -> score -> ranked histogram grid +
    ranked signal panels, each rendered to a file (reference
    evaluation.py:394-555)."""
    cfg = ModelConfig(model_name="m6", sampling_rate="PT5M",
                      threshold_quantile=0.995)
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    scored = det.transform(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 09:00:00"))
    )
    ev = ModelEvaluation(scored, sampling_rate_s=300)
    rank_input = synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 09:00:00"))
    hpath = str(tmp_path / "hists.svg")
    hinfo = ev.plot_histograms(rank_input, hpath, nb_cols=2)
    assert hinfo["n_cells"] == 3  # all three signals plotted, ranked order
    assert set(hinfo["subsets"]) == {"anomalous", "normal"}
    assert open(hpath).read().startswith("<svg")
    spath = str(tmp_path / "signals.svg")
    sinfo = ev.plot_signals(rank_input, spath, resample="PT5M")
    assert set(sinfo["series"]) == {"s1", "s2", "s3"}
    assert "Detected events" in sinfo["ranges"]
    assert open(spath).read().startswith("<svg")
