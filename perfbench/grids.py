"""Gridded fixtures for the `weather_mv` and `xql_zarr` workloads.

Every cell value is a closed form of its grid indices, so a sink read
back or an aggregate returned by the engine can be checked exactly:

    milli(var, t, y, x) = base[var] + 5 t + 7 y + 3 x + (x y + t) mod 17

with ``value = milli / 1000``. ``t`` counts hours from 2024-01-01T00,
``y`` rows south from 50°N and ``x`` columns east from 100°W on a 0.25°
grid; the seed shifts each variable's ``base``. Three decimals is the
precision GRIB2 packs at (decimal scale 3), so the packed formats
round-trip the values exactly.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np

VARS = ("d2m", "u10", "v10")
LAT0, LON0, STEP = 50.0, -100.0, 0.25
EPOCH = np.datetime64("2024-01-01T00:00:00", "s")
ZLIB = {"id": "zlib", "level": 1}


class Field:
    """The closed-form field for one seed."""

    def __init__(self, seed: int):
        offsets = np.random.default_rng(seed).integers(0, 1000, len(VARS))
        self.base = {v: b + int(o) for v, b, o in zip(VARS, (280_000, -5_000, 2_000), offsets)}

    def milli(self, var: str, t, y, x) -> np.ndarray:
        t, y, x = (np.asarray(a, dtype=np.int64) for a in (t, y, x))
        return self.base[var] + 5 * t + 7 * y + 3 * x + (x * y + t) % 17

    def cube(self, var: str, hours, ny: int, nx: int) -> np.ndarray:
        """``(len(hours), ny, nx)`` float64 values."""
        t = np.asarray(hours)[:, None, None]
        return self.milli(var, t, np.arange(ny)[None, :, None], np.arange(nx)[None, None, :]) / 1000.0


def lats(ny: int) -> np.ndarray:
    return LAT0 - STEP * np.arange(ny)


def lons(nx: int) -> np.ndarray:
    return LON0 + STEP * np.arange(nx)


def hour_time(hour: int) -> np.datetime64:
    return EPOCH + np.timedelta64(int(hour), "h")


def write_grib2_file(path: str, field: Field, hour: int, ny: int, nx: int) -> None:
    """One GRIB2 file, one message per variable, complex packing with
    second-order spatial differencing (template 5.3)."""
    from weather_tools_spark.sources.grib2 import write_grib2

    msgs = [
        {"param": v, "ref_time": str(hour_time(hour)), "lats": lats(ny), "lons": lons(nx),
         "values": field.cube(v, [hour], ny, nx)[0]}
        for v in VARS
    ]
    write_grib2(path, msgs, decimal_scale=3, packing="complex_diff2")


def write_netcdf3_file(path: str, field: Field, hour: int, ny: int, nx: int) -> None:
    """One classic NetCDF file with float32 variables over (time, lat, lon)."""
    from weather_tools_spark.sources.netcdf3 import write_netcdf3

    secs = float(hour_time(hour).astype("datetime64[s]").astype(np.int64))
    write_netcdf3(
        path,
        {"time": np.array([secs]), "latitude": lats(ny), "longitude": lons(nx)},
        {v: field.cube(v, [hour], ny, nx).astype("f4") for v in VARS},
    )


def _put(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def write_zarr_store(store: str, field: Field, nt: int, ny: int, nx: int, chunks: tuple[int, int, int]) -> int:
    """Zarr v2 store (consolidated metadata, zlib chunks) of the field
    over hours ``0..nt-1``; returns the number of chunk files per variable."""
    meta: dict = {".zgroup": {"zarr_format": 2}, ".zattrs": {}}

    def array(name, arr, chunk_shape, dims, attrs=None):
        za = {"zarr_format": 2, "shape": list(arr.shape), "chunks": list(chunk_shape),
              "dtype": arr.dtype.str, "compressor": ZLIB,
              "fill_value": "NaN" if arr.dtype.kind == "f" else 0, "order": "C", "filters": None}
        meta[f"{name}/.zarray"] = za
        meta[f"{name}/.zattrs"] = {"_ARRAY_DIMENSIONS": list(dims), **(attrs or {})}
        for key in ("zarray", "zattrs"):
            _put(os.path.join(store, name, "." + key), json.dumps(meta[f"{name}/.{key}"]).encode())
        grid = [range(0, s, c) for s, c in zip(arr.shape, chunk_shape)]
        for idx in np.ndindex(*(len(g) for g in grid)):
            lo = [g[i] for g, i in zip(grid, idx)]
            block = np.full(chunk_shape, np.nan if arr.dtype.kind == "f" else 0, dtype=arr.dtype)
            part = arr[tuple(slice(a, a + c) for a, c in zip(lo, chunk_shape))]
            block[tuple(slice(0, s) for s in part.shape)] = part
            _put(os.path.join(store, name, ".".join(map(str, idx))), zlib.compress(block.tobytes(), 1))
        return int(np.prod([len(g) for g in grid]))

    secs = (EPOCH + np.arange(nt) * np.timedelta64(1, "h")).astype("datetime64[s]").astype("<i8")
    array("time", secs, (nt,), ("time",), {"units": "seconds since 1970-01-01T00:00:00",
                                          "calendar": "proleptic_gregorian"})
    array("latitude", lats(ny).astype("<f8"), (ny,), ("latitude",))
    array("longitude", lons(nx).astype("<f8"), (nx,), ("longitude",))
    n = 0
    for v in VARS:
        n = array(v, field.cube(v, np.arange(nt), ny, nx).astype("<f8"), chunks, ("time", "latitude", "longitude"))
    _put(os.path.join(store, ".zgroup"), json.dumps({"zarr_format": 2}).encode())
    _put(os.path.join(store, ".zmetadata"),
         json.dumps({"zarr_consolidated_format": 1, "metadata": meta}).encode())
    return n


def read_zarr_store(store: str) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict[str, np.ndarray]]:
    """Independent reader for zlib/raw Zarr v2 stores: ``(hours, lats,
    lons, {var: cube})`` with edge padding trimmed."""
    with open(os.path.join(store, ".zmetadata")) as f:
        meta = json.load(f)["metadata"]

    def array(name):
        za = meta[f"{name}/.zarray"]
        shape, chunks = za["shape"], za["chunks"]
        grid = [-(-s // c) for s, c in zip(shape, chunks)]
        padded = np.empty([g * c for g, c in zip(grid, chunks)], dtype=np.dtype(za["dtype"]))
        for idx in np.ndindex(*grid):
            path = os.path.join(store, name, ".".join(map(str, idx)))
            with open(path, "rb") as f:
                raw = f.read()
            if za["compressor"]:
                raw = zlib.decompress(raw)
            block = np.frombuffer(raw, dtype=padded.dtype).reshape(chunks)
            padded[tuple(slice(i * c, (i + 1) * c) for i, c in zip(idx, chunks))] = block
        return padded[tuple(slice(0, s) for s in shape)]

    secs = array("time").astype("datetime64[s]")
    hours = ((secs - EPOCH) // np.timedelta64(1, "h")).astype(np.int64)
    data = {k.split("/")[0]: array(k.split("/")[0]) for k in meta
            if k.endswith("/.zarray") and len(meta[k]["shape"]) == 3}
    return hours, array("latitude"), array("longitude"), data


def grid_index(lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Grid indices ``(y, x)`` of coordinates on the fixture grid."""
    return (np.rint((LAT0 - lat) / STEP).astype(np.int64), np.rint((lon - LON0) / STEP).astype(np.int64))
