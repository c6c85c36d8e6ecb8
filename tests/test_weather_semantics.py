"""Weather-specific golden semantics (FIXTURES.md §1 variants):
resolution inference, single-point polygon disable, descending-latitude
boundary behavior, NaN→NULL round trip through ingest."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F

from weather_tools_spark.functions import geo as G
from weather_tools_spark.sources import hypercube as H


def test_infer_grid_resolution():
    assert G.infer_grid_resolution([49.0, 48.0, 47.0]) == 1.0
    assert G.infer_grid_resolution([0.0, 0.25, 0.5, 0.75]) == 0.25
    assert G.infer_grid_resolution([49.0]) is None  # single point


def test_single_point_grid_disables_polygon(spark):
    grid = spark.createDataFrame([(49.0, -108.0)], "latitude double, longitude double")
    out = G.build_geo_lookup(grid, None, None).first()
    assert out.geo_point is not None
    assert out.geo_polygon is None  # bq.py:262-264 behavior


def test_descending_latitude_strict_bounds(spark, era5_nc):
    """Reference grids store latitude descending (49→45); strict > / <
    predicates must behave identically to an ascending grid — on a
    discrete grid, label-slice-then-drop-boundary ≡ plain strict
    comparison (SURVEY.md §7.4.2)."""
    df = H.ingest(spark, [era5_nc])  # lats 49..45 descending
    strict = df.filter(F.col("latitude") > 45.0).select("latitude").distinct().collect()
    assert sorted(r.latitude for r in strict) == [46.0, 47.0, 48.0, 49.0]
    non_strict = df.filter(F.col("latitude") >= 45.0).select("latitude").distinct().collect()
    assert sorted(r.latitude for r in non_strict) == [45.0, 46.0, 47.0, 48.0, 49.0]


def test_nan_round_trips_to_null(spark):
    """NaN in decoded data must surface as SQL NULL (reference scrubs
    NaN→None, weather_mv util.py:88-99; FIXTURES.md 'with NaN')."""
    pdf = pd.DataFrame(
        {
            "time": pd.to_datetime(["2018-01-01", "2018-01-01"]),
            "latitude": [49.0, 48.0],
            "longitude": [-108.0, -108.0],
            "d2m": [242.5, float("nan")],
            "u10": [1.0, 2.0],
            "v10": [3.0, 4.0],
        }
    )
    df = spark.createDataFrame(pdf)
    rows = df.select(
        "latitude", F.nanvl(F.col("d2m"), F.lit(None)).alias("d2m")
    ).orderBy(F.col("latitude").desc()).collect()
    assert rows[0].d2m == 242.5
    assert rows[1].d2m is None  # NULL, not NaN
    # and aggregates skip it like the oracle would
    agg = df.select(F.avg(F.nanvl(F.col("d2m"), F.lit(None)))).first()[0]
    assert math.isclose(agg, 242.5)


def test_geo_polygon_antimeridian_wrap(spark):
    df = spark.createDataFrame([(0.0, 179.75)], "lat double, lon double")
    s = df.select(G.geo_polygon(F.col("lat"), F.col("lon"), 1.0, 1.0)).first()[0]
    import json

    ring = json.loads(s)["coordinates"][0]
    lons = [p[0] for p in ring]
    # east edge wraps across the antimeridian into negative longitudes
    assert any(lon < -179 for lon in lons) and any(lon > 179 for lon in lons)
