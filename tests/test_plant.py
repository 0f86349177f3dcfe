"""PlantData / schema tests: col_map renaming, dtype casting, derived
columns, analysis-filtered validation, geometry accessors."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from openoa_spark.plant import PlantData
from openoa_spark.schema import (
    PlantMetaData,
    create_analysis_schema,
    offset_to_seconds,
    requirements_for,
)
from tests.windfixtures import plant_tables

META = {
    "latitude": 47.9,
    "longitude": 5.12,
    "capacity": 8.0,
    "scada": {"frequency": "10min"},
    "meter": {"frequency": "10min"},
    "curtail": {"frequency": "10min"},
    "reanalysis": {"era5": {"frequency": "h"}},
}


@pytest.fixture(scope="module")
def tables():
    return plant_tables(days=20)


@pytest.fixture(scope="module")
def plant(spark, tables):
    return PlantData(
        spark,
        META,
        analysis_type=["MonteCarloAEP", "ElectricalLosses"],
        scada=spark.createDataFrame(tables["scada"]),
        meter=spark.createDataFrame(tables["meter"]),
        curtail=spark.createDataFrame(tables["curtail"]),
        asset=spark.createDataFrame(tables["asset"]),
        reanalysis={"era5": spark.createDataFrame(tables["reanalysis"])},
    )


def test_offsets():
    assert offset_to_seconds("10min") == 600.0
    assert offset_to_seconds("H") == 3600.0  # deprecated alias accepted
    assert offset_to_seconds("D") == 86400.0
    assert offset_to_seconds("MS") == 31 * 86400.0


def test_requirements_merge():
    reqs = requirements_for(["MonteCarloAEP", "ElectricalLosses"])
    cols, freq = reqs["meter"]
    assert "MMTR_SupWh" in cols
    assert freq == 31 * 86400.0
    cols_s, freq_s = reqs["scada"]
    assert {"asset_id", "WTUR_W"} <= cols_s and freq_s == 86400.0


def test_analysis_schema():
    sch = create_analysis_schema(["ElectricalLosses"])
    assert set(sch) == {"scada", "meter"}
    assert sch["scada"]["columns"]["WTUR_W"] == "double"


def test_derived_columns(plant):
    # reanalysis fixture only has u, v, temp, pressure — ws/wd/rho derived
    era5 = plant.reanalysis["era5"]
    assert {"WMETR_HorWdSpd", "WMETR_HorWdDir", "WMETR_AirDen"} <= set(era5.columns)
    row = era5.orderBy("time").first()
    ws = float(row["WMETR_HorWdSpd"])
    assert ws == pytest.approx(
        float(np.hypot(row["WMETR_HorWdSpdU"], row["WMETR_HorWdSpdV"])), rel=1e-9
    )
    assert 0.8 < float(row["WMETR_AirDen"]) < 1.5
    # scada energy = power × 1/6 h
    srow = plant.scada.orderBy("time", "asset_id").first()
    assert float(srow["WTUR_SupWh"]) == pytest.approx(float(srow["WTUR_W"]) / 6.0, rel=1e-9)


def test_validation_passes(plant):
    assert plant.validation_errors() == []


def test_validation_missing_column(spark, tables):
    bad = spark.createDataFrame(tables["meter"]).withColumnRenamed("MMTR_SupWh", "energy")
    with pytest.raises(ValueError, match="MMTR_SupWh"):
        PlantData(
            spark, META, analysis_type=["MonteCarloAEP"],
            meter=bad,
            curtail=spark.createDataFrame(tables["curtail"]),
            reanalysis={"era5": spark.createDataFrame(tables["reanalysis"])},
        )


def test_col_map_rename(spark, tables):
    meta = dict(META)
    meta["meter"] = {"frequency": "10min", "MMTR_SupWh": "energy_watthours"}
    renamed = spark.createDataFrame(
        tables["meter"].rename(columns={"MMTR_SupWh": "energy_watthours"})
    )
    p = PlantData(spark, meta, analysis_type=None, meter=renamed)
    assert "MMTR_SupWh" in p.meter.columns


def test_ids_and_slices(plant):
    assert plant.turbine_ids == ["T01", "T02", "T03", "T04"]
    assert plant.tower_ids == ["MT1"]
    assert plant.turbine_df("T02").select("asset_id").distinct().count() == 1


def test_asset_ids_keep_spark_order_in_one_job(spark):
    # NULL, repeats, and non-ASCII ids whose UTF-16 order differs from
    # their UTF-8 byte order (U+FF5A sorts after U+1D538 in UTF-16)
    ids = ["T02", None, "Tø1", "T01", "é", "T02", "\U0001d538", "ｚ", "a", None]
    asset = spark.createDataFrame(
        [(i, "turbine") for i in ids] + [("MT1", "tower")],
        "asset_id string, type string",
    )
    plant = PlantData(spark, META, analysis_type=None, asset=asset)
    turbines = asset.where(F.col("type") == "turbine")
    expected = [
        r["asset_id"]
        for r in turbines.select("asset_id").distinct().orderBy("asset_id").collect()
    ]
    assert expected[0] is None and len(expected) == 8

    sc = spark.sparkContext
    sc.setJobGroup("test_asset_ids", "test_asset_ids")
    try:
        got = plant.turbine_ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == expected
    assert len(sc.statusTracker().getJobIdsForGroup("test_asset_ids")) <= 1
    assert plant.asset_ids == [None] + sorted(set(ids + ["MT1"]) - {None})


def test_geometry_and_freestream(plant):
    # west wind (270°): the westernmost turbine T01 is freestream;
    # T02..T04 each have an upwind neighbor to their west.
    fs = plant.get_freestream_turbines(270.0, sector_width_deg=90.0)
    assert "T01" in fs and "T04" not in fs
    # east wind (90°): easternmost turbine is freestream
    fs_e = plant.get_freestream_turbines(90.0, sector_width_deg=90.0)
    assert "T04" in fs_e and "T01" not in fs_e
    assert plant.nearest_turbine("T01") == "T02"
    assert plant.nearest_tower("T01") == "MT1"


def test_freestream_iec(plant):
    # IEC 61400-12-1 Annex A: 5D spacing on an east-west line → west
    # wind wakes everything with an upwind western neighbor
    fs = plant.get_freestream_turbines(270.0, freestream_method="IEC")
    assert fs == ["T01"]
    # north wind: nobody upwind on an east-west line (|rel| = 90° >
    # IEC half-width ≈ 26.5° at 5D) → all four freestream
    fs_n = plant.get_freestream_turbines(0.0, freestream_method="IEC")
    assert fs_n == ["T01", "T02", "T03", "T04"]
    with pytest.raises(ValueError, match="method"):
        plant.get_freestream_turbines(0.0, freestream_method="bogus")


def test_to_csv_roundtrip(plant, spark, tmp_path):
    plant.to_csv(str(tmp_path))
    meta = PlantMetaData.load(str(tmp_path / "metadata.yml"))
    assert meta.capacity == 8.0
    assert meta.scada.frequency == "10min"
    df = spark.read.option("header", True).csv(str(tmp_path / "meter"))
    assert "MMTR_SupWh" in df.columns


def test_to_csv_rename_back(spark, tables, tmp_path):
    meta = dict(META)
    meta["meter"] = {"frequency": "10min", "MMTR_SupWh": "energy_watthours"}
    renamed = spark.createDataFrame(
        tables["meter"].rename(columns={"MMTR_SupWh": "energy_watthours"})
    )
    p = PlantData(spark, meta, analysis_type=None, meter=renamed)
    p.to_csv(str(tmp_path), with_openoa_col_names=False)
    # csv carries the USER's original column name...
    df = spark.read.option("header", True).csv(str(tmp_path / "meter"))
    assert "energy_watthours" in df.columns
    # ...and the metadata file records the map, so the export re-loads
    # to canonical names
    p2 = PlantData(
        spark, str(tmp_path / "metadata.yml"), analysis_type=None,
        meter=df,
    )
    assert "MMTR_SupWh" in p2.meter.columns


def test_from_csv_full_round_trip(plant, spark, tmp_path):
    plant.to_csv(str(tmp_path))
    back = PlantData.from_csv(spark, str(tmp_path))
    assert back.metadata.capacity == plant.metadata.capacity
    assert set(back.reanalysis) == set(plant.reanalysis)
    # typed schema restored from untyped CSV
    assert dict(back.meter.dtypes)["MMTR_SupWh"] == "double"
    assert dict(back.meter.dtypes)["time"] == "timestamp"
    # values survive the round trip exactly (sum over a double col)
    orig = plant.meter.agg(F.sum("MMTR_SupWh")).first()[0]
    got = back.meter.agg(F.sum("MMTR_SupWh")).first()[0]
    assert got == pytest.approx(orig, rel=1e-12)
    assert back.turbine_ids == plant.turbine_ids


def test_from_csv_user_names_round_trip(plant, spark, tmp_path):
    # export with the user's original column names: the metadata file
    # records the mapping, so from_csv must still restore canonical
    plant.to_csv(str(tmp_path), with_openoa_col_names=False)
    back = PlantData.from_csv(spark, str(tmp_path))
    assert "MMTR_SupWh" in back.meter.columns


def test_from_csv_missing_metadata_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="metadata"):
        PlantData.from_csv(spark, str(tmp_path))


def test_create_views_enables_raw_sql(spark, plant):
    names = plant.create_views(prefix="p1_")
    assert "p1_scada" in names and "p1_asset" in names
    n_turbines = spark.sql(
        "SELECT COUNT(DISTINCT asset_id) AS n FROM p1_scada"
    ).first()["n"]
    assert n_turbines == plant.asset.where("type = 'turbine'").count()
    if "p1_reanalysis" in names:
        prods = {
            r["product"]
            for r in spark.sql(
                "SELECT DISTINCT product FROM p1_reanalysis"
            ).collect()
        }
        assert prods == set(plant.reanalysis.keys())


def test_parquet_round_trip(spark, plant, tmp_path):
    path = str(tmp_path / "export")
    plant.to_parquet(path)
    p2 = PlantData.from_parquet(
        spark, path, analysis_type=["MonteCarloAEP", "ElectricalLosses"]
    )
    assert p2.scada.count() == plant.scada.count()
    assert set(p2.reanalysis) == set(plant.reanalysis)
    # parquet keeps types: timestamps stay timestamps
    assert dict(p2.meter.dtypes)["time"].startswith("timestamp")
    # canonical column names survive the round trip
    assert set(p2.scada.columns) == set(plant.scada.columns)


def test_from_entr_delegates_to_plugin(spark, monkeypatch):
    """from_entr mirrors the reference's delegation contract exactly
    (reference plant.py:1515-1524): without the py-entr plugin it
    raises NotImplementedError; with one installed, arguments pass
    through untouched and the plugin's return value is the result."""
    import sys
    import types

    import pytest as _pytest

    from openoa_spark.plant import PlantData

    # absent plugin -> NotImplementedError, STRICTLY (None in
    # sys.modules makes the import raise ModuleNotFoundError, which
    # from_entr must translate — asserting ImportError here would let
    # a deleted except-clause pass unnoticed since ModuleNotFoundError
    # subclasses it)
    monkeypatch.setitem(sys.modules, "entr", None)
    with _pytest.raises(NotImplementedError):
        PlantData.from_entr("thrift://host:9083")

    # injected plugin -> pure pass-through delegation
    seen = {}

    def fake_loader(*args, **kwargs):
        seen["args"], seen["kwargs"] = args, kwargs
        return "PLANT"

    pkg = types.ModuleType("entr")
    sub = types.ModuleType("entr.plantdata")
    sub.from_entr = fake_loader
    pkg.plantdata = sub
    monkeypatch.setitem(sys.modules, "entr", pkg)
    monkeypatch.setitem(sys.modules, "entr.plantdata", sub)
    out = PlantData.from_entr("thrift://host:9083", wind_plant="LPP")
    assert out == "PLANT"
    assert seen["args"] == ("thrift://host:9083",)
    assert seen["kwargs"] == {"wind_plant": "LPP"}
