from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weather_tools_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("weather_tools_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def era5_nc(tmp_path_factory) -> str:
    """A small ERA5-shaped classic NetCDF file: 3 times 6 h apart from
    2018-01-02T06, latitudes 49→45 (descending, as ERA5 stores them),
    longitudes −108→−104 at 1°, data variables d2m, u10 and v10."""
    import numpy as np
    import pandas as pd

    from weather_tools_spark.sources.netcdf3 import write_netcdf3

    times = pd.date_range("2018-01-02T06:00:00", periods=3, freq="6h")
    lats = np.arange(49.0, 44.0, -1.0)
    lons = np.arange(-108.0, -103.0, 1.0)
    rng = np.random.RandomState(0)
    shape = (len(times), len(lats), len(lons))
    path = str(tmp_path_factory.mktemp("era5") / "era5.nc")
    write_netcdf3(
        path,
        {
            "time": (times.asi8 // 1_000_000_000).astype(">i4"),
            "latitude": lats,
            "longitude": lons,
        },
        {
            "d2m": (rng.rand(*shape) * 150 + 180).round(4),
            "u10": (rng.rand(*shape) * 60 - 30).round(4),
            "v10": (rng.rand(*shape) * 60 - 30).round(4),
        },
    )
    return path
