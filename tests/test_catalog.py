"""Catalog (S11-S13) lifecycle."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from amazon_lookout_for_equipment_python_sdk_spark import schema as sch
from amazon_lookout_for_equipment_python_sdk_spark.sources import Catalog


def _write_component_csvs(root, components):
    """Write the reference's per-component CSV directory layout
    (dataset.py:154-167): one dir per component, Timestamp first column."""
    for comp, tags in components.items():
        d = os.path.join(root, comp)
        os.makedirs(d)
        with open(os.path.join(d, f"{comp}.csv"), "w") as f:
            f.write("Timestamp," + ",".join(tags) + "\n")
            for i in range(10):
                vals = ",".join(str(float(i + j)) for j in range(len(tags)))
                f.write(f"2024-01-01T00:{i:02d}:00.000000,{vals}\n")


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "catalog"))


def test_catalog_create_ingest_load(catalog, tmp_path):
    csv_root = str(tmp_path / "csvs")
    comps = {"pump": ["p1", "p2"], "motor": ["m1"]}
    _write_component_csvs(csv_root, comps)
    schema_json = sch.create_data_schema(
        {c: ["Timestamp"] + tags for c, tags in comps.items()}
    )
    catalog.create_dataset("plant", schema_json)
    res = catalog.ingest_data("plant", csv_root)
    assert res["status"] == "SUCCESS"
    # 10 rows x (2 pump tags + 1 motor tag) in long layout
    assert res["rows_ingested"] == 30
    df = catalog.load_dataset("plant")
    assert set(df.columns) == {"ts", "tag", "value", "component"}
    assert df.select("component").distinct().count() == 2
    # partition pruning: component filter must prune to one dir
    plan = df.filter(F.col("component") == "pump")._jdf.queryExecution().toString()
    assert "PartitionFilters" in plan


def test_catalog_ingest_from_uri_root(catalog, tmp_path):
    """S2 — ingest against a URI-schemed root: the file:// scheme resolves
    through the Hadoop FileSystem, the exact code path an s3a:// bucket
    takes on a cluster (reference ingests from S3, dataset.py:729-777)."""
    csv_root = str(tmp_path / "csvs_uri")
    comps = {"pump": ["p1", "p2"], "motor": ["m1"]}
    _write_component_csvs(csv_root, comps)
    schema_json = sch.create_data_schema(
        {c: ["Timestamp"] + tags for c, tags in comps.items()}
    )
    catalog.create_dataset("uriplant", schema_json)
    res = catalog.ingest_data("uriplant", f"file://{csv_root}")
    assert res["status"] == "SUCCESS"
    assert res["rows_ingested"] == 30
    df = catalog.load_dataset("uriplant")
    assert df.count() == 30
    # a missing component dir is still a descriptive error through the FS
    catalog.create_dataset("uriplant2", sch.create_data_schema(
        {"pump": ["Timestamp", "p1"], "fan": ["Timestamp", "f1"]}
    ))
    with pytest.raises(ValueError, match="missing CSV directory.*fan"):
        catalog.ingest_data("uriplant2", f"file://{csv_root}")


def test_catalog_ingest_date_partitioning(catalog, tmp_path):
    """partition_by_date: a time-range filter must prune date partitions
    at the scan (PartitionFilters on ts_date), not just row groups."""
    csv_root = str(tmp_path / "csvs2")
    d = os.path.join(csv_root, "pump")
    os.makedirs(d)
    with open(os.path.join(d, "pump.csv"), "w") as f:
        f.write("Timestamp,p1\n")
        for day in (1, 2, 3):
            for h in range(3):
                f.write(f"2024-01-{day:02d}T{h:02d}:00:00.000000,{float(h)}\n")
    schema_json = sch.create_data_schema({"pump": ["Timestamp", "p1"]})
    catalog.create_dataset("dated", schema_json)
    res = catalog.ingest_data("dated", csv_root, partition_by_date=True)
    assert res["rows_ingested"] == 9
    df = catalog.load_dataset("dated")
    assert "ts_date" in df.columns
    pruned = df.filter(F.col("ts_date") == "2024-01-02")
    plan = pruned._jdf.queryExecution().toString()
    assert "PartitionFilters" in plan and "ts_date" in plan
    assert pruned.count() == 3


def test_catalog_ingest_append_mode(catalog, tmp_path):
    csv_root = str(tmp_path / "csvs3")
    _write_component_csvs(csv_root, {"pump": ["p1"]})
    schema_json = sch.create_data_schema({"pump": ["Timestamp", "p1"]})
    catalog.create_dataset("inc", schema_json)
    assert catalog.ingest_data("inc", csv_root)["rows_ingested"] == 10
    # append reports THIS job's rows; the table accumulates
    assert (
        catalog.ingest_data("inc", csv_root, mode="append")["rows_ingested"]
        == 10
    )
    assert catalog.load_dataset("inc").count() == 20
    with pytest.raises(ValueError, match="mode"):
        catalog.ingest_data("inc", csv_root, mode="merge")


def test_catalog_listing_pagination(catalog):
    schema_json = sch.create_data_schema({"c": ["Timestamp", "t1"]})
    for name in ["a1", "a2", "a3", "b1"]:
        catalog.create_dataset(name, schema_json)
    page, token = catalog.list_datasets(prefix="a", max_results=2)
    assert [m["name"] for m in page] == ["a1", "a2"] and token == 2
    page2, token2 = catalog.list_datasets(prefix="a", max_results=2, next_token=token)
    assert [m["name"] for m in page2] == ["a3"] and token2 is None


def test_catalog_duplicate_and_missing(catalog):
    schema_json = sch.create_data_schema({"c": ["Timestamp", "t1"]})
    catalog.create_dataset("d", schema_json)
    with pytest.raises(ValueError, match="already exists"):
        catalog.create_dataset("d", schema_json)
    with pytest.raises(ValueError, match="does not exist"):
        catalog.load_dataset("nope")


def test_catalog_cascade_delete(catalog):
    schema_json = sch.create_data_schema({"c": ["Timestamp", "t1"]})
    catalog.create_dataset("d", schema_json)
    catalog.register_model("d", "m1", {"kind": "pca"})
    assert catalog.list_models("d") == ["m1"]
    with pytest.raises(ValueError, match="delete_children"):
        catalog.delete_dataset("d")
    catalog.delete_dataset("d", delete_children=True)
    assert catalog.list_datasets()[0] == []


def test_catalog_cascade_stops_running_scheduler(catalog, spark, tmp_path):
    """S13 full cascade (dataset.py:338-418): delete walks schedulers
    (stop -> delete) -> models -> dataset; without delete_children a live
    scheduler refuses the delete."""
    from amazon_lookout_for_equipment_python_sdk_spark.streaming import (
        InferenceScheduler,
        SchedulerConfig,
    )

    schema_json = sch.create_data_schema({"pump": ["Timestamp", "p1"]})
    catalog.create_dataset("d2", schema_json)
    catalog.register_model("d2", "m1", {"kind": "pca"})
    indir = tmp_path / "in"
    indir.mkdir()
    with open(indir / "pump_20240101100000.csv", "w") as f:
        f.write("Timestamp,p1\n2024-01-01T10:00:30.000000,1.0\n")
    cfg = SchedulerConfig(
        scheduler_name="cascade-sched",
        input_dir=str(indir),
        output_dir=str(tmp_path / "out"),
        components=["pump"],
        tags=["p1"],
    )
    sched = InferenceScheduler(
        spark,
        cfg,
        lambda b: b.select(
            F.col("Timestamp").alias("timestamp"), F.lit(0).alias("prediction")
        ),
    )
    sched.create()
    sched.start(available_now=True)
    catalog.attach_scheduler("d2", sched)
    assert len(catalog.list_schedulers("d2")) == 1
    with pytest.raises(ValueError, match="scheduler"):
        catalog.delete_dataset("d2")
    catalog.delete_dataset("d2", delete_children=True)
    assert cfg.status == "NOT_CREATED"  # stopped then deleted
    assert catalog.list_schedulers("d2") == []
    assert catalog.list_datasets()[0] == []
