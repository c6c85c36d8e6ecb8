"""CLI surface (weather_tools_spark/cli.py): the four reference verbs
driven end-to-end in-process — dl (config → fan-out → fake-client
fetch + skip-existing), mv (GRIB glob → long rows → parquet sink with
area filter + geo column), sp (file-native GRIB split), xql (--query
and the open-then-query flow)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from weather_tools_spark.cli import main

CFG = """
[parameters]
client=fake
dataset=test-ds
target_path={dir}/out-{{year}}-{{month}}.nc
partition_keys=
    year
    month

[selection]
year=2020/to/2021
month=01/02
"""


@pytest.fixture()
def grib_file(tmp_path):
    from weather_tools_spark.sources.grib2 import write_grib2

    lats = np.array([50.0, 49.0, 48.0])
    lons = np.array([10.0, 11.0, 12.0, 13.0])
    vals = np.arange(12, dtype="f8").reshape(3, 4) / 4 + 1.0
    p = tmp_path / "era5-sample.grib2"
    write_grib2(
        str(p),
        [
            {"param": "d2m", "ref_time": "2024-01-01T00:00", "lats": lats, "lons": lons, "values": vals},
            {"param": "u10", "ref_time": "2024-01-01T00:00", "lats": lats, "lons": lons, "values": vals + 10},
        ],
    )
    return str(p)


def test_dl_dry_run_and_fetch(spark, tmp_path, capsys):
    cfg = tmp_path / "era5.cfg"
    cfg.write_text(CFG.format(dir=tmp_path))
    rc = main(["dl", str(cfg), "--dry-run"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "dry-run: 4 partition(s)" in out  # 2 years × 2 months
    # real fetch with the fake client materializes every target
    rc = main(["dl", str(cfg)])
    assert rc == 0
    made = sorted(os.listdir(tmp_path))
    assert sum(1 for f in made if f.startswith("out-")) == 4
    # second run: skip-existing leaves nothing to fetch
    rc = main(["dl", str(cfg), "--dry-run"])
    out = capsys.readouterr().out
    assert "dry-run: 0 partition(s)" in out


def test_mv_grib_to_parquet(spark, tmp_path, grib_file, capsys):
    out = str(tmp_path / "rows.parquet")
    rc = main([
        "mv", "--uris", grib_file, "--output", out,
        "--area", "50", "10", "49", "12", "--variables", "d2m", "--geo",
    ])
    assert rc == 0
    df = spark.read.parquet(out)
    assert set(df.columns) == {"time", "latitude", "longitude", "d2m", "geo_point"}
    # area N=50 W=10 S=49 E=12 keeps lats {50,49} × lons {10,11,12}
    assert df.count() == 6
    assert df.filter("latitude < 49 or longitude > 12").count() == 0


def test_sp_splits_grib_by_param(spark, tmp_path, grib_file, capsys):
    outdir = str(tmp_path / "split")
    rc = main(["sp", "--input-pattern", grib_file, "--output-dir", outdir])
    assert rc == 0
    made = sorted(os.listdir(outdir))
    assert len(made) == 2 and any("d2m" in f for f in made) and any("u10" in f for f in made)


def test_xql_query_over_store(spark, tmp_path, grib_file, capsys):
    rc = main([
        "xql",
        "--uri", grib_file,
        "--view", "weather",
        "--query",
        "SELECT round(avg(u10), 3) AS avg_u10 FROM weather",
    ])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "avg_u10"
    # mean of vals+10 = mean(0..11)/4 + 11 = 1.375 + 10 = 12.375
    assert abs(float(out[1]) - 12.375) < 1e-9


def test_cli_unknown_pattern_errors(tmp_path):
    rc = main(["sp", "--input-pattern", str(tmp_path / "nope-*.grib2"), "--output-dir", str(tmp_path)])
    assert rc == 2


def test_dl_records_manifest(spark, tmp_path):
    cfg = tmp_path / "era5.cfg"
    cfg.write_text(CFG.format(dir=tmp_path / "dl"))
    man = str(tmp_path / "manifest")
    rc = main(["dl", str(cfg), "--manifest", man])
    assert rc == 0
    rows = spark.read.parquet(man).collect()
    assert len(rows) == 4                      # one state row per partition
    assert {r.status for r in rows} == {"success"}  # all transitions applied
    assert all(r.selection and r.location for r in rows)


def test_mv_to_zarr_roundtrip(spark, tmp_path, grib_file):
    from weather_tools_spark.sources.opener import open_dataset

    store = str(tmp_path / "store.zarr")
    rc = main(["mv", "--uris", grib_file, "--output", store, "--zarr", "--chunks", "1,2,2"])
    assert rc == 0
    back = open_dataset(spark, store)
    src = open_dataset(spark, grib_file)
    a = {(r.latitude, r.longitude): (round(r.d2m, 3), round(r.u10, 3)) for r in src.collect()}
    b = {(r.latitude, r.longitude): (round(r.d2m, 3), round(r.u10, 3)) for r in back.collect()}
    assert a == b and len(a) == 12


def test_xql_repl_loop(spark, tmp_path, grib_file, capsys, monkeypatch):
    """The REPL path: statements stream from stdin, an error keeps the
    loop alive, a blank line exits."""
    import io

    monkeypatch.setattr(
        "sys.stdin",
        io.StringIO(
            "SELECT count(*) AS n FROM weather\n"
            "SELECT broken syntax here\n"
            "SELECT round(max(d2m), 3) AS mx FROM weather\n"
            "\n"
        ),
    )
    rc = main(["xql", "--uri", grib_file, "--view", "weather"])
    assert rc == 0
    cap = capsys.readouterr()
    out = cap.out.strip().splitlines()
    assert out[0] == "n" and out[1] == "12"
    assert out[-2] == "mx"  # the loop survived the broken statement
    assert "error:" in cap.err


def test_mv_to_netcdf_and_sp_netcdf_split(spark, tmp_path, grib_file):
    from weather_tools_spark.sources.opener import open_dataset

    # mv: GRIB -> classic NetCDF files
    out = str(tmp_path / "nc_out")
    rc = main(["mv", "--uris", grib_file, "--output", out, "--netcdf"])
    assert rc == 0
    ncs = sorted(os.listdir(out))
    assert ncs and all(f.endswith(".nc") for f in ncs)
    back = open_dataset(spark, os.path.join(out, "*.nc"))
    src = open_dataset(spark, grib_file)
    a = {(r.latitude, r.longitude): round(r.d2m, 3) for r in back.collect()}
    b = {(r.latitude, r.longitude): round(r.d2m, 3) for r in src.collect()}
    assert a == b
    # sp: split those NetCDF files by variable through the CLI
    split_dir = str(tmp_path / "nc_split")
    rc = main(["sp", "--input-pattern", os.path.join(out, "*.nc"), "--output-dir", split_dir])
    assert rc == 0
    made = sorted(os.listdir(split_dir))
    assert any("d2m" in f for f in made) and any("u10" in f for f in made)


def _jobs_run(spark, fn) -> int:
    """Spark jobs ``fn`` starts, counted under a job group once the
    listener bus has delivered every job event."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_mv_runs_one_job_to_parquet_and_few_to_zarr(spark, tmp_path, grib_file, capsys):
    """The parquet sink counts rows on the write (no read-back job); the
    Zarr sink derives its axes in one aggregate, not three distinct
    passes that each decode the input again."""
    out = str(tmp_path / "rows.parquet")
    argv = ["mv", "--uris", grib_file, "--output", out]
    assert _jobs_run(spark, lambda: main(argv)) == 1
    printed = capsys.readouterr().out
    n = spark.read.parquet(out).count()
    assert n == 12 and f"wrote {n} row(s)" in printed

    store = str(tmp_path / "store.zarr")
    argv = ["mv", "--uris", grib_file, "--output", store, "--zarr", "--chunks", "1,2,2"]
    assert _jobs_run(spark, lambda: main(argv)) <= 5


def test_mv_variables_pushdown(spark, tmp_path, grib_file):
    """--variables reaches the decoder: only the requested variables land
    in the sink, and an unknown name fails in the opener's probe."""
    out = str(tmp_path / "rows.parquet")
    assert main(["mv", "--uris", grib_file, "--output", out, "--variables", "u10"]) == 0
    df = spark.read.parquet(out)
    assert df.columns == ["time", "latitude", "longitude", "u10"]
    assert sorted(r.u10 for r in df.collect()) == [v / 4 + 11.0 for v in range(12)]
    with pytest.raises(ValueError, match="unknown variables"):
        main(["mv", "--uris", grib_file, "--output", out, "--variables", "u10,nope"])


def test_zarr_axes_one_aggregate_matches_distinct(spark, tmp_path):
    """One-aggregate axes equal the three distinct() collects they
    replace on a single-hour grid crossing 0: latitude descending, and
    0.0 once even when the rows carry both -0.0 and 0.0."""
    import math

    from pyspark.sql import functions as F

    from weather_tools_spark.cli import zarr_axes
    from weather_tools_spark.sources.grib2 import write_grib2
    from weather_tools_spark.sources.opener import open_dataset

    p = str(tmp_path / "zero.grib2")
    lats, lons = np.array([0.5, 0.25, 0.0, -0.25]), np.array([-0.5, -0.25, 0.0, 0.25, 0.5])
    write_grib2(p, [{"param": "d2m", "ref_time": "2024-01-01T06:00", "lats": lats,
                     "lons": lons, "values": np.ones((4, 5))}])
    df = open_dataset(spark, p)
    neg = df.withColumn(
        "longitude", F.when(F.col("longitude") == 0.0, F.lit(-0.0)).otherwise(F.col("longitude"))
    ).withColumn(
        "latitude", F.when(F.col("latitude") == 0.0, F.lit(-0.0)).otherwise(F.col("latitude"))
    )
    df = neg.unionByName(df)

    times, got_lats, got_lons = zarr_axes(df)
    assert times == [r[0].isoformat() for r in df.select("time").distinct().orderBy("time").collect()]
    assert got_lats == [
        r[0] for r in df.select("latitude").distinct().orderBy(F.col("latitude").desc()).collect()
    ]
    assert got_lons == [r[0] for r in df.select("longitude").distinct().orderBy("longitude").collect()]
    assert len(times) == 1
    assert got_lats == list(lats) and got_lons == list(lons)
    for axis in (got_lats, got_lons):
        zeros = [v for v in axis if v == 0.0]
        assert len(zeros) == 1 and math.copysign(1.0, zeros[0]) == 1.0


def test_dlv2_cli_drives_control_plane(capsys):
    """The dlv2 subcommand mirrors the reference weather-dl-v2 CLI
    table against a live control-plane server."""
    import json

    from weather_tools_spark.cli import main
    from weather_tools_spark.pipeline.controlplane import ControlPlaneServer

    with ControlPlaneServer() as cp:
        base = ["dlv2", "--server", cp.url]
        assert main(base + ["ping"]) == 0
        assert main(base + ["license", "add", "L1", "--client-name", "cds",
                            "--number-of-requests", "4"]) == 0
        assert main(base + ["download", "add", "era5.cfg", "-l", "L1",
                            "--client-name", "cds"]) == 0
        capsys.readouterr()
        assert main(base + ["download", "list", "--filter", "client_name=cds"]) == 0
        out = json.loads(capsys.readouterr().out)
        assert [d["config_name"] for d in out] == ["era5.cfg"]
        assert main(base + ["queue", "get", "L1"]) == 0
        assert json.loads(capsys.readouterr().out)["queue"] == ["era5.cfg"]
        assert main(base + ["download", "refetch", "era5.cfg", "-l", "L1"]) == 0
        assert main(base + ["license", "edit", "L1", "--client-name", "c2"]) == 0
        capsys.readouterr()
        assert main(base + ["queue", "list", "--filter", "client_name=c2"]) == 0
        assert json.loads(capsys.readouterr().out)[0]["license_id"] == "L1"
        assert main(base + ["download", "remove", "era5.cfg"]) == 0
        assert main(base + ["license", "remove", "L1"]) == 0
