"""Regrid operators (cell-mean downsample, bilinear upsample) and the
NL→SQL surface."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from weather_tools_spark.catalog import load_table, register_views
from weather_tools_spark.operators import regrid as RG
from weather_tools_spark.plans import nl
from weather_tools_spark.sources import hypercube as H


def test_regrid_cell_mean_downsample(spark, era5_nc):
    src = H.ingest(spark, [era5_nc])  # 1° grid, lats 49..45, lons -108..-104
    out = RG.regrid_cell_mean(src, lat_res=2.0, lon_res=2.0, value_cols=["d2m"])
    rows = out.collect()
    # every output point is a 2° cell center
    assert all(abs(r.latitude % 2.0 - 1.0) < 1e-9 for r in rows)
    assert all(abs(r.longitude % 2.0 - 1.0) < 1e-9 for r in rows)
    # conservation: global mean preserved up to cell-count weighting —
    # check one cell against a hand aggregation
    t0 = src.select(F.min("time")).first()[0]
    cell = [
        r.d2m
        for r in src.filter(
            (F.col("time") == t0)
            & F.col("latitude").between(46.0, 47.999)
            & F.col("longitude").between(-108.0, -106.001)
        ).collect()
    ]
    got = [
        r.d2m
        for r in rows
        if r.time == t0 and r.latitude == 47.0 and r.longitude == -107.0
    ]
    assert len(got) == 1
    assert math.isclose(got[0], sum(cell) / len(cell), rel_tol=1e-9)


def test_regrid_bilinear_interpolates(spark, era5_nc):
    src = H.ingest(spark, [era5_nc])
    t0 = src.select(F.min("time")).first()[0]
    # target point exactly between 4 source corners → plain 4-mean
    out = RG.regrid_bilinear(
        src, target_lats=[46.5], target_lons=[-106.5],
        src_lat_res=1.0, src_lon_res=1.0, value_cols=["d2m"],
    )
    got = [r.d2m for r in out.collect() if r.time == t0]
    corners = [
        r.d2m
        for r in src.filter(
            (F.col("time") == t0)
            & F.col("latitude").isin(46.0, 47.0)
            & F.col("longitude").isin(-107.0, -106.0)
        ).collect()
    ]
    assert len(corners) == 4
    assert math.isclose(got[0], sum(corners) / 4.0, rel_tol=1e-9)
    # target exactly ON a source point → identity
    ident = RG.regrid_bilinear(
        src, target_lats=[47.0], target_lons=[-106.0],
        src_lat_res=1.0, src_lon_res=1.0, value_cols=["d2m"],
    )
    src_val = src.filter(
        (F.col("time") == t0) & (F.col("latitude") == 47.0) & (F.col("longitude") == -106.0)
    ).first().d2m
    got_val = [r.d2m for r in ident.collect() if r.time == t0][0]
    assert math.isclose(got_val, src_val, rel_tol=1e-9)


def test_regrid_cell_mean_conserves_uniform_field(spark):
    """Conservation property: regridding a spatially-uniform field (per
    time step) preserves the value exactly in every target cell."""
    import pandas as pd

    times = pd.to_datetime(["2018-01-01 00:00:00", "2018-01-01 06:00:00"])
    rows = [
        (t.to_pydatetime(), float(la), float(lo), 7.25)
        for t in times
        for la in range(40, 48)
        for lo in range(-110, -102)
    ]
    src = spark.createDataFrame(
        rows, "time timestamp, latitude double, longitude double, d2m double"
    )
    out = RG.regrid_cell_mean(src, lat_res=4.0, lon_res=4.0, value_cols=["d2m"])
    vals = [r.d2m for r in out.collect()]
    assert vals and all(abs(v - 7.25) < 1e-9 for v in vals)


def test_nl_rule_based_translation():
    sql = nl.nl_to_sql("what is the average value by day for city new york", "events")
    assert sql == (
        "SELECT time_date, AVG('value') FROM events WHERE city = 'new york' "
        "GROUP BY time_date ORDER BY time_date"
    )
    sql2 = nl.nl_to_sql("total value by month", "events")
    assert "SUM('value')" in sql2 and "time_month" in sql2
    with pytest.raises(ValueError, match="cannot parse"):
        nl.nl_to_sql("tell me something interesting", "events")


def test_nl_ask_end_to_end(spark, sf_dir):
    register_views(spark, sf_dir, tables=("events",))
    df = nl.ask(spark, "average value by day", "events", time_col="ts")
    rows = df.collect()
    assert df.columns[0] == "time_date" and len(rows) >= 28


def test_nl_llm_passthrough(spark, sf_dir):
    register_views(spark, sf_dir, tables=("events",))
    prompts = []

    def fake_llm(prompt: str) -> str:
        prompts.append(prompt)
        return "SELECT count(*) AS n FROM events;"

    df = nl.ask(spark, "how many events are there", "events", llm=fake_llm, time_col="ts")
    assert df.first().n > 0
    assert "Question: how many events are there" in prompts[0]


def test_regrid_conservative_exact_vs_numpy(spark):
    """First-order conservative remap 0.25° → 1.0° (aligned 4×4
    blocks): matches the numpy area-weighted reference exactly and
    preserves the global spherical integral to double precision."""
    import numpy as np

    lats = np.arange(50.125, 54.0, 0.25)
    lons = np.arange(0.125, 8.0, 0.25)
    rng = np.random.RandomState(0)
    rows = [(float(la), float(lo), float(rng.randn())) for la in lats for lo in lons]
    src = spark.createDataFrame(rows, "latitude double, longitude double, v double") \
               .withColumn("time", F.lit("2024-01-01").cast("timestamp"))
    out = RG.regrid_conservative(src, 0.25, 0.25, 1.0, 1.0, ["v"]).toPandas()

    d2r = math.pi / 180
    v = np.array([r[2] for r in rows]).reshape(len(lats), len(lons))
    wlat = np.sin((lats + 0.125) * d2r) - np.sin((lats - 0.125) * d2r)
    num = (v * wlat[:, None]).reshape(4, 4, 8, 4).sum(axis=(1, 3))
    den = np.repeat(wlat.reshape(4, 4).sum(axis=1), 8).reshape(4, 8) * 4
    got = out.sort_values(["latitude", "longitude"])["v"].to_numpy().reshape(4, 8)
    np.testing.assert_allclose(got, num / den, atol=1e-12)

    w_src = wlat[:, None] * 0.25
    w_tgt = (np.sin((out["latitude"] + 0.5) * d2r) - np.sin((out["latitude"] - 0.5) * d2r)) * 1.0
    assert abs(float((v * w_src).sum()) - float((out["v"] * w_tgt).sum())) < 1e-9


def test_regrid_conservative_misaligned_constant(spark):
    """Misaligned grids (0.3° → 0.5°, partial overlaps on every edge):
    a constant field must regrid to exactly that constant — the weight
    normalization covers fractional cell intersections."""
    import numpy as np

    lats = np.arange(50.15, 52.0, 0.3)
    lons = np.arange(0.15, 2.0, 0.3)
    rows = [(float(la), float(lo), 2.5) for la in lats for lo in lons]
    src = spark.createDataFrame(rows, "latitude double, longitude double, v double") \
               .withColumn("time", F.lit("2024-01-01").cast("timestamp"))
    out = RG.regrid_conservative(src, 0.3, 0.3, 0.5, 0.5, ["v"]).toPandas()
    assert len(out) > 0
    assert np.allclose(out["v"], 2.5)
