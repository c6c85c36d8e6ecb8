"""Hypercube → long-format rows: the engine's ingest operator.

Reference behavior being re-expressed (weather-mv, SURVEY.md §3.2):
- engine-dispatch file open (zarr/tif/netcdf/grib with edition fallback,
  sinks.py:437-519) → ``opener.detect`` by magic bytes, then the
  shared format table ``datasource.CODECS``;
- variable projection incl. normalized-name prefix/suffix matching
  (util.py:159-191) → ``select_variables``;
- GRIB schema normalization to ``<level>_<height>_<stepType>_<var>``
  wide columns (sinks.py:251-342, height rule :303-308)
  → ``normalized_var_name`` (pure) applied during decode;
- coordinate-space explosion to rows (util.py:207-237, bq.py:338-386)
  → decode emits long-format pandas batches via ``mapInPandas``;
- area/time filter *before* explosion (bq.py:332-335) → pushed into the
  decoder via ``IngestOptions``: every codec drops the rows itself;
- geo columns via broadcast join against the grid lookup
  (bq.py:197-238, 344-375) → ``attach_geo``;
- system columns data_import_time / data_uri / data_first_step
  (bq.py:49-54, 377-379) → ``with_system_columns``.

Spark plan shape: LocalTableScan(paths) → mapInPandas(decode)
→ join(broadcast(geo)) → sink. One file (or one zarr
chunk) per task; no shuffle until an explicit sink/agg asks for one.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from weather_tools_spark.functions.geo import build_geo_lookup

# Canonical coordinate column set (mirrors the reference's
# frozenset(('latitude','time','step','valid_time','longitude','number')),
# sinks.py:44).
COORD_COLUMNS = ("time", "valid_time", "step", "number", "latitude", "longitude")


def normalized_var_name(level: str, height: float, step_type: str, var: str) -> str:
    """GRIB → wide-column name ``<level>_<height>_<stepType>_<var>``.

    Height rule (sinks.py:302-306): values ≥ 10 render as rounded
    integers (``{height:.0f}``); smaller values keep 2 decimals with the
    decimal point rendered as ``_`` (``{height:.2f}`` → ``1_50``).
    """
    if height >= 10:
        h = f"{height:.0f}"
    else:
        h = f"{height:.2f}".replace(".", "_")
    return f"{level}_{h}_{step_type}_{var}"


def merge_normalized(
    frames: list[tuple[str, float, str, str, DataFrame]],
    coord_cols: tuple[str, ...] = ("time", "latitude", "longitude"),
    value_col: str = "value",
) -> DataFrame:
    """GRIB schema normalization, merge step (sinks.py:251-342): N
    single-variable hypercubes (one per level/height/stepType/var)
    align on the coordinate axes into ONE wide dataset whose columns
    carry the synthesized ``<level>_<height>_<stepType>_<var>`` names.

    Spark-first: rename each frame's value column to its normalized
    name, then a coalescing full-outer multi-way join on the coordinate
    key (grids that don't cover a coordinate leave NULLs — the same
    NaN-alignment xr.merge produces). Coordinate-key joins co-partition
    after the first shuffle, so the k-way merge costs one exchange per
    side, not per pair.
    """
    renamed = [
        df.select(
            *coord_cols,
            F.col(value_col).alias(normalized_var_name(level, height, step_type, var)),
        )
        for level, height, step_type, var, df in frames
    ]
    out = renamed[0]
    for nxt in renamed[1:]:
        out = out.join(nxt, list(coord_cols), "full_outer")
    return out


def matches_variable(column: str, requested: str) -> bool:
    """Projection match incl. normalized names: exact, prefix ``var_*``
    or suffix ``*_var`` (util.py:133-136,159-191 semantics)."""
    return (
        column == requested
        or column.startswith(requested + "_")
        or column.endswith("_" + requested)
    )


def select_variables(df: DataFrame, requested: list[str] | None) -> DataFrame:
    """Keep coordinate/system columns plus any data column matching a
    requested variable name."""
    if not requested:
        return df
    keep = [
        c
        for c in df.columns
        if c in COORD_COLUMNS
        or c.startswith("data_")
        or c in ("geo_point", "geo_polygon")
        or any(matches_variable(c, r) for r in requested)
    ]
    return df.select(*keep)


@dataclass
class IngestOptions:
    variables: list[str] | None = None
    area: tuple[float, float, float, float] | None = None  # N, W, S, E
    start_time: str | None = None
    end_time: str | None = None
    lat_res: float = 1.0
    lon_res: float = 1.0


def ingest(
    spark: SparkSession,
    uris: list[str],
    opts: IngestOptions | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """NetCDF/GRIB file URIs → long-format row DataFrame.

    Every URI is classified on the driver with ``opener.detect`` (the
    reference's engine-dispatch open, sinks.py:437-519) and decoded by
    its codec from the shared format table (``datasource.CODECS``),
    which applies ``opts``' variables, area and time itself. Zarr
    stores and GeoTIFFs are not hypercube files: they raise toward
    ``opener.open_dataset``. Without ``schema`` the columns are the
    coordinates plus the first file's data variables.

    The paths collection is a local relation (LocalTableScan) split into
    min(files, defaultParallelism) partitions, so each task decodes
    whole files (the unit of I/O parallelism, exactly one shuffle-free
    stage); decode emits Arrow batches via mapInPandas. At cluster
    scale the same plan applies with thousands of files per job.
    """
    from .datasource import hypercube_codec

    opts = opts or IngestOptions()
    codecs = {uri: hypercube_codec(uri) for uri in uris}
    if schema is None:
        _, probe = codecs[uris[0]]
        variables = sorted(set(probe(uris[0])))
        schema = T.StructType(
            [
                T.StructField(c, T.TimestampType() if c == "time" else T.DoubleType())
                for c in ("time", "latitude", "longitude", *variables)
            ]
            + [
                T.StructField("data_uri", T.StringType()),
                T.StructField("data_first_step", T.TimestampType()),
            ]
        )
    paths = spark.createDataFrame(pd.DataFrame({"data_uri": uris}), "data_uri string")

    data_cols = [f.name for f in schema.fields if f.name not in ("data_uri", "data_first_step")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for uri in pdf["data_uri"]:
                decode, _ = codecs[uri]
                rows = decode(uri, opts)
                out = rows.reindex(columns=data_cols)
                out["data_uri"] = uri
                out["data_first_step"] = rows["time"].min() if len(rows) else pd.NaT
                yield out

    df = paths.mapInPandas(run, schema=schema)
    return select_variables(df, opts.variables)


def with_system_columns(df: DataFrame, import_time: str | None = None) -> DataFrame:
    """data_import_time: fixed for batch runs (epoch 0 in reference
    tests, bq.py:49), current_timestamp() in streaming (bq.py:325-327)."""
    col = (
        F.lit(import_time).cast("timestamp")
        if import_time is not None
        else F.current_timestamp()
    )
    return df.withColumn("data_import_time", col)


def attach_geo(df: DataFrame, lat_res: float, lon_res: float) -> DataFrame:
    """Broadcast-join the geo lookup (geo_point / geo_polygon GeoJSON) by
    grid position — bq.py:344-375 as a real broadcast equi-join."""
    grid = df.select("latitude", "longitude").distinct()
    lookup = build_geo_lookup(grid, lat_res, lon_res)
    return df.join(F.broadcast(lookup), ["latitude", "longitude"], "left")
