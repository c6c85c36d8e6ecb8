"""Message-level GRIB manifest scan — the kerchunk/gribberish access
pattern for cloud weather archives.

A GRIB corpus is millions of self-contained messages concatenated into
files. Modern cloud stacks index them once (message byte ranges +
coordinates from the headers) and then answer queries by reading ONLY
the byte ranges whose header metadata matches — the reference reaches
the same granularity per file through cfgrib's filter-by-key open
(weather_mv loader_pipeline/sinks.py:437-519), and xql's Zarr planning
(xql/src/xql/open.py:69-98) is the chunk-store analog of exactly this.

Spark-first shape:

- :func:`build_grib_manifest` — one executor task per file walks
  SECTION HEADERS ONLY (identification + product definition; data
  sections are never touched) and emits one manifest row per message:
  (path, offset, length, edition, param, ref_time, step_hours, member,
  level). Persist it as parquet and Catalyst pushes query predicates
  into the manifest scan itself.
- :func:`scan_grib_manifest` — filters the manifest declaratively
  (param/time/step/level are ordinary columns), then decodes only the
  surviving messages: one task per file group, each seeking to its
  message offsets and parsing the byte slices with the stdlib codec
  kernels (read_grib2_bytes / read_grib1_bytes). A query touching one
  parameter at one forecast step reads that fraction of the corpus
  bytes, not the files.

At 100 TB the manifest is ~10⁻⁵ of the data (40 bytes/message vs
multi-MB messages); building it is one header-walk pass, and every
subsequent query plans against the manifest alone.
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "path string, offset long, length long, edition int, param string, "
    "ref_time timestamp, step_hours double, member int, level double"
)

_UNIT_HOURS = {0: 1.0 / 60.0, 1: 1.0, 2: 24.0, 10: 3.0, 11: 6.0, 12: 12.0}


def index_grib_file(path: str) -> pd.DataFrame:
    """Header-only message index of one GRIB file (both editions):
    seeks between messages by total length, reads identification +
    product-definition octets, never a data section."""
    from .grib1 import _REV_PARAMS1
    from .grib2 import _REV_PARAMS

    rows = []
    with open(path, "rb") as f:
        buf = f.read()
    p = 0
    while p < len(buf):
        if buf[p : p + 4] != b"GRIB":
            raise ValueError(f"{path}: not GRIB at offset {p}")
        edition = buf[p + 7]
        if edition == 2:
            (total,) = struct.unpack_from(">Q", buf, p + 8)
            disc = buf[p + 6]
            q = p + 16
            ref_time = param = None
            step_hours, member, level = 0.0, None, None
            while q < p + total - 4:
                (slen,) = struct.unpack_from(">I", buf, q)
                snum = buf[q + 4]
                if snum == 1:
                    year, = struct.unpack_from(">H", buf, q + 12)
                    ref_time = pd.Timestamp(
                        year=year, month=buf[q + 14], day=buf[q + 15],
                        hour=buf[q + 16], minute=buf[q + 17], second=buf[q + 18],
                    )
                elif snum == 4:
                    cat, num = buf[q + 9], buf[q + 10]
                    param = _REV_PARAMS.get((disc, cat, num), f"p{disc}_{cat}_{num}")
                    ptmpl, = struct.unpack_from(">H", buf, q + 7)
                    unit = buf[q + 17]
                    ftime, = struct.unpack_from(">I", buf, q + 18)
                    step_hours = ftime * _UNIT_HOURS.get(unit, float("nan"))
                    member = buf[q + 35] if ptmpl == 1 else None
                    scale = buf[q + 23]
                    scale = -(scale & 0x7F) if scale & 0x80 else scale
                    raw, = struct.unpack_from(">I", buf, q + 24)
                    level = raw * 10.0 ** (-scale)
                    break  # sections 5-7 are data; stop walking
                q += slen
        elif edition == 1:
            total = int.from_bytes(buf[p + 4 : p + 7], "big")
            pds = buf[p + 8 :]
            param = _REV_PARAMS1.get(pds[8], f"p{pds[8]}")
            yoc, century = pds[12], pds[24]
            ref_time = pd.Timestamp(
                year=(century - 1) * 100 + yoc, month=pds[13], day=pds[14],
                hour=pds[15], minute=pds[16],
            )
            step_hours = pds[18] * _UNIT_HOURS.get(pds[17], float("nan"))
            member, level = None, float(int.from_bytes(pds[10:12], "big"))
        else:
            raise ValueError(f"{path}: GRIB edition {edition}")
        rows.append(
            (path, p, total, int(edition), param, ref_time, float(step_hours),
             member, level)
        )
        p += total
    return pd.DataFrame(
        rows,
        columns=["path", "offset", "length", "edition", "param", "ref_time",
                 "step_hours", "member", "level"],
    )


def build_grib_manifest(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Distributed manifest build: whole files are the unit of
    parallelism; each task walks its file's section headers."""
    files = spark.createDataFrame(pd.DataFrame({"path": paths}), "path string")

    def run(batches):
        for pdf in batches:
            for p in pdf["path"]:
                yield index_grib_file(p)

    return files.mapInPandas(run, MANIFEST_SCHEMA)


def scan_grib_manifest(
    spark: SparkSession,
    manifest: DataFrame,
    params: list[str] | None = None,
    time_range: tuple[str, str] | None = None,
    max_step_hours: float | None = None,
) -> DataFrame:
    """Decode ONLY the messages whose manifest row survives the
    predicates. Filters are ordinary Catalyst predicates on the
    manifest (pushed into the parquet scan when the manifest is
    stored); the decode stage seeks each surviving byte range and
    parses the slice with the bytes-level codec kernels. Output is
    long-format (melted) rows: one (time, step, lat, lon, param,
    value) per grid point of each selected message."""
    sel = manifest
    if params is not None:
        sel = sel.filter(F.col("param").isin(list(params)))
    if time_range is not None:
        sel = sel.filter(
            (F.col("ref_time") >= F.lit(time_range[0]).cast("timestamp"))
            & (F.col("ref_time") < F.lit(time_range[1]).cast("timestamp"))
        )
    if max_step_hours is not None:
        sel = sel.filter(F.col("step_hours") <= max_step_hours)

    def decode(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from .grib1 import read_grib1_bytes
        from .grib2 import read_grib2_bytes

        (path,) = key
        out = []
        with open(path, "rb") as f:
            for _, row in pdf.sort_values("offset").iterrows():
                f.seek(int(row["offset"]))
                chunk = f.read(int(row["length"]))
                msgs = (
                    read_grib2_bytes(chunk, origin=path)
                    if row["edition"] == 2
                    else read_grib1_bytes(chunk, origin=path)
                )
                for m in msgs:
                    if "lat_grid" in m:
                        la, lo = m["lat_grid"], m["lon_grid"]
                    else:
                        la, lo = np.meshgrid(m["lats"], m["lons"], indexing="ij")
                    out.append(
                        pd.DataFrame(
                            {
                                "time": m["ref_time"],
                                "step": m["step_hours"] * 3600.0,
                                "latitude": np.asarray(la).ravel(),
                                "longitude": np.asarray(lo).ravel(),
                                "param": m["param"],
                                "value": np.asarray(m["values"], dtype="f8").ravel(),
                            }
                        )
                    )
        if not out:
            return pd.DataFrame(
                columns=["time", "step", "latitude", "longitude", "param", "value"]
            )
        return pd.concat(out, ignore_index=True)

    return sel.groupBy("path").applyInPandas(
        decode,
        "time timestamp, step double, latitude double, longitude double, "
        "param string, value double",
    )
