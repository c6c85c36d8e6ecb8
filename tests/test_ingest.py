"""Hypercube ingest: decode plumbing, projection matching, GRIB name
normalization goldens, geo attachment, zarr chunk pruning."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from weather_tools_spark.sources import hypercube as H
from weather_tools_spark.sources import zarr_scan as Z


def test_normalized_var_name_goldens():
    # reference rule sinks.py:302-306: >=10 → {:.0f}; <10 → {:.2f} with '.'→'_'
    assert H.normalized_var_name("isobaricInhPa", 500.0, "instant", "z") == "isobaricInhPa_500_instant_z"
    assert H.normalized_var_name("isobaricInhPa", 850.0, "instant", "t") == "isobaricInhPa_850_instant_t"
    assert H.normalized_var_name("surface", 0.0, "instant", "t2m") == "surface_0_00_instant_t2m"
    assert H.normalized_var_name("heightAboveGround", 2.0, "instant", "d2m") == "heightAboveGround_2_00_instant_d2m"
    assert H.normalized_var_name("depthBelowLand", 1.5, "instant", "stl1") == "depthBelowLand_1_50_instant_stl1"
    assert H.normalized_var_name("heightAboveGround", 10.6, "instant", "u") == "heightAboveGround_11_instant_u"


def test_variable_projection_matching():
    assert H.matches_variable("d2m", "d2m")
    assert H.matches_variable("surface_0_00_instant_t2m", "t2m")  # suffix
    assert H.matches_variable("t2m_something", "t2m")  # prefix
    assert not H.matches_variable("xt2m", "t2m")


def test_ingest_fake_grid(spark, era5_nc, tmp_path):
    second = str(tmp_path / "b.nc")
    shutil.copy(era5_nc, second)
    uris = [era5_nc, second]
    df = H.ingest(spark, uris)
    # 2 files × 3 times × 5 lats × 5 lons
    assert df.count() == 2 * 3 * 5 * 5
    assert set(df.columns) >= {"time", "latitude", "longitude", "d2m", "data_uri", "data_first_step"}
    firsts = df.select("data_uri", "data_first_step").distinct().collect()
    assert len(firsts) == 2  # per-file first step recorded


def test_ingest_area_and_time_filter(spark, era5_nc):
    opts = H.IngestOptions(area=(48.0, -107.0, 46.0, -105.0), start_time="2018-01-02 12:00:00")
    df = H.ingest(spark, [era5_nc], opts)
    rows = df.collect()
    assert all(46.0 <= r.latitude <= 48.0 for r in rows)
    assert all(-107.0 <= r.longitude <= -105.0 for r in rows)
    assert all(r.time.hour >= 12 for r in rows)
    # 2 remaining times × 3 lats × 3 lons
    assert len(rows) == 2 * 3 * 3


def test_ingest_variable_projection(spark, era5_nc):
    df = H.ingest(spark, [era5_nc], H.IngestOptions(variables=["d2m"]))
    assert "d2m" in df.columns and "u10" not in df.columns


def test_attach_geo(spark, era5_nc):
    df = H.ingest(spark, [era5_nc])
    geo = H.attach_geo(df, lat_res=1.0, lon_res=1.0)
    row = geo.filter((F.col("latitude") == 49.0) & (F.col("longitude") == -108.0)).first()
    assert '"type":"Point"' in row.geo_point.replace(" ", "")
    assert "-108.0" in row.geo_point and "49.0" in row.geo_point
    assert '"type":"Polygon"' in row.geo_polygon.replace(" ", "")


def test_with_system_columns(spark, era5_nc):
    df = H.ingest(spark, [era5_nc])
    out = H.with_system_columns(df, import_time="1970-01-01 00:00:00")
    assert out.select(F.min("data_import_time")).first()[0].year == 1970


def _meta() -> Z.ChunkedDatasetMeta:
    import pandas as pd

    times = [str(t) for t in pd.date_range("2018-01-01", periods=48, freq="h")]
    lats = [49.0 - i for i in range(8)]  # descending
    lons = [-108.0 + i for i in range(8)]
    return Z.ChunkedDatasetMeta(
        uri="store.zarr", times=times, lats=lats, lons=lons,
        chunk_time=24, chunk_lat=2, chunk_lon=2,
    )


def test_chunk_manifest_enumeration(spark):
    m = Z.chunk_manifest(spark, _meta())
    assert m.count() == 2 * 4 * 4  # 48/24 × 8/2 × 8/2


def test_chunk_pruning_reduces_chunks(spark):
    meta = _meta()
    manifest = Z.chunk_manifest(spark, meta)
    pruned = Z.prune_chunks(
        manifest,
        time_range=("2018-01-01 00:00:00", "2018-01-01 12:00:00"),
        lat_range=(48.0, 49.0),
        lon_range=(-108.0, -107.0),
    )
    assert pruned.count() == 1  # one time chunk × one lat chunk × one lon chunk


def test_merge_normalized_wide_schema(spark):
    import datetime as dt

    t1 = dt.datetime(2018, 1, 1)
    coords = [(t1, 49.0, -108.0), (t1, 48.0, -108.0)]
    z500 = spark.createDataFrame(
        [(t, la, lo, 5500.0 + i) for i, (t, la, lo) in enumerate(coords)],
        "time timestamp, latitude double, longitude double, value double",
    )
    # t850 covers only ONE of the coordinates → NULL alignment expected
    t850 = spark.createDataFrame(
        [(coords[0][0], 49.0, -108.0, 280.5)],
        "time timestamp, latitude double, longitude double, value double",
    )
    wide = H.merge_normalized(
        [("isobaricInhPa", 500.0, "instant", "z", z500),
         ("isobaricInhPa", 850.0, "instant", "t", t850)]
    )
    assert set(wide.columns) == {
        "time", "latitude", "longitude",
        "isobaricInhPa_500_instant_z", "isobaricInhPa_850_instant_t",
    }
    rows = {r.latitude: r for r in wide.collect()}
    assert rows[49.0].isobaricInhPa_850_instant_t == 280.5
    assert rows[48.0].isobaricInhPa_850_instant_t is None  # xr.merge-style NULL fill


def test_ingest_rejects_missing_and_non_weather_paths(spark, tmp_path):
    """A typo'd path or a file that is not a weather file fails on the
    driver, before any job runs."""
    with pytest.raises(ValueError, match="unable to open dataset"):
        H.ingest(spark, [str(tmp_path / "era5-typo.nc")])
    notes = tmp_path / "README.md"
    notes.write_text("# not a weather file\n")
    with pytest.raises(ValueError, match="unable to open dataset"):
        H.ingest(spark, [str(notes)])


def test_ingest_points_zarr_and_geotiff_to_open_dataset(spark, tmp_path):
    """Zarr stores and GeoTIFFs are weather data but not hypercube
    files: ingest names the opener that reads them."""
    import numpy as np

    from weather_tools_spark.sources import geotiff as GT

    store = tmp_path / "s.zarr"
    store.mkdir()
    store = str(store)
    tif = str(tmp_path / "tile.tif")
    GT.write_geotiff(tif, np.ones((2, 2)), (8.0, 50.0), (0.25, 0.25))
    for uri, kind in ((store, "zarr"), (tif, "geotiff")):
        with pytest.raises(ValueError, match=f"is a {kind} dataset.*open_dataset"):
            H.ingest(spark, [uri])
