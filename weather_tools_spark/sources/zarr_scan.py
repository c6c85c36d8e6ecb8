"""Chunk-manifest scan for chunked array stores (Zarr-model).

The reference reads Zarr lazily and re-chunks work to match storage
chunks (xql/src/xql/open.py:30-66, apply.py:285-286; xbeam
DatasetToChunks in bq.py:419). Spark has no zarr datasource, so the
engine plans scans the same way a columnar reader plans row-groups:

1. build a *chunk manifest* DataFrame — one row per chunk, carrying the
   coordinate ranges the chunk covers (min/max per dimension);
2. prune it with ordinary Catalyst predicates (compare the query's
   coordinate ranges against chunk ranges — the zarr analog of parquet
   row-group min/max pruning, SURVEY.md §4 'chunk-range pruning');
3. hand surviving chunk specs to ``mapInPandas`` tasks that each decode
   N whole chunks (one task = whole chunks, never a partial chunk).

Step 3 decodes real Zarr v2/v3 chunk files with the stdlib codec in
sources/zarr_v2.py (``zarr2_decode_specs``); ``meta.uri`` is the store
and ``meta`` usually comes from ``zarr_v2.open_zarr_v2``.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class ChunkedDatasetMeta:
    """Store metadata: coordinate axes + chunk shape (what
    ``xr.open_zarr(...).chunks`` exposes)."""

    uri: str
    times: list[str]  # ISO timestamps, ascending
    lats: list[float]  # may be descending (ERA5 convention)
    lons: list[float]
    chunk_time: int
    chunk_lat: int
    chunk_lon: int
    variables: tuple[str, ...] = ("d2m", "u10", "v10")


CHUNK_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("uri", T.StringType()),
        T.StructField("t_idx", T.IntegerType()),
        T.StructField("lat_idx", T.IntegerType()),
        T.StructField("lon_idx", T.IntegerType()),
        T.StructField("time_min", T.TimestampType()),
        T.StructField("time_max", T.TimestampType()),
        T.StructField("lat_min", T.DoubleType()),
        T.StructField("lat_max", T.DoubleType()),
        T.StructField("lon_min", T.DoubleType()),
        T.StructField("lon_max", T.DoubleType()),
    ]
)


def _manifest_rows(meta: ChunkedDatasetMeta) -> pd.DataFrame:
    """Chunk keys with their coordinate min/max ranges, on the driver."""
    rows = []
    nt, nla, nlo = len(meta.times), len(meta.lats), len(meta.lons)
    times = pd.to_datetime(meta.times)
    for ti in range(0, nt, meta.chunk_time):
        tchunk = times[ti : ti + meta.chunk_time]
        for lai in range(0, nla, meta.chunk_lat):
            lachunk = meta.lats[lai : lai + meta.chunk_lat]
            for loi in range(0, nlo, meta.chunk_lon):
                lochunk = meta.lons[loi : loi + meta.chunk_lon]
                rows.append(
                    (
                        meta.uri,
                        ti // meta.chunk_time,
                        lai // meta.chunk_lat,
                        loi // meta.chunk_lon,
                        tchunk.min().to_pydatetime(),
                        tchunk.max().to_pydatetime(),
                        float(min(lachunk)),
                        float(max(lachunk)),
                        float(min(lochunk)),
                        float(max(lochunk)),
                    )
                )
    return pd.DataFrame(rows, columns=CHUNK_MANIFEST_SCHEMA.fieldNames())


def chunk_manifest(spark: SparkSession, meta: ChunkedDatasetMeta) -> DataFrame:
    """Enumerate chunk keys with their coordinate min/max ranges."""
    # a pandas frame becomes a LocalRelation: Catalyst folds the pruning
    # filters into it at planning time, and the scan splits the surviving
    # chunks into min(chunks, defaultParallelism) partitions
    return spark.createDataFrame(_manifest_rows(meta), CHUNK_MANIFEST_SCHEMA)


def prune_chunks(
    manifest: DataFrame,
    time_range: tuple[str, str] | None = None,
    lat_range: tuple[float, float] | None = None,
    lon_range: tuple[float, float] | None = None,
) -> DataFrame:
    """Range-overlap pruning: a chunk survives iff its [min,max] range
    intersects the predicate range on every constrained dimension —
    exactly parquet row-group min/max semantics applied to chunks."""
    out = manifest
    if time_range is not None:
        lo, hi = time_range
        out = out.filter(
            (F.col("time_max") >= F.lit(lo).cast("timestamp"))
            & (F.col("time_min") < F.lit(hi).cast("timestamp"))
        )
    if lat_range is not None:
        lo, hi = lat_range
        out = out.filter((F.col("lat_max") >= lo) & (F.col("lat_min") <= hi))
    if lon_range is not None:
        lo, hi = lon_range
        out = out.filter((F.col("lon_max") >= lo) & (F.col("lon_min") <= hi))
    return out


def row_schema(meta: ChunkedDatasetMeta, include_uri: bool = True):
    """Long-format scan schema for a store template: coordinate axes +
    one double column per data variable."""
    fields = [
        T.StructField("time", T.TimestampType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        *[T.StructField(v, T.DoubleType()) for v in meta.variables],
    ]
    if include_uri:
        fields.append(T.StructField("data_uri", T.StringType()))
    return T.StructType(fields)


def stream_ingest(
    spark: SparkSession,
    meta: ChunkedDatasetMeta,
    manifest_dir: str,
    sink_fn,
    max_chunks_per_trigger: int = 4,
    checkpoint_dir: str | None = None,
):
    """Streaming chunk ingest — the reference's Zarr→rows streaming path
    (xbeam.DatasetToChunks + 60 s fixed windows, bq.py:406-423) as
    Structured Streaming:

    chunk specs arrive as JSON files in ``manifest_dir`` (one file per
    chunk — see write_chunk_specs — so ``maxFilesPerTrigger`` bounds
    chunks per micro-batch), and each micro-batch decodes its chunks
    with the same kernel the batch ``scan`` uses, handing the decoded
    rows to ``sink_fn(df, batch_id)`` via foreachBatch. Pass
    ``checkpoint_dir`` for a durable offset log — without it Spark uses
    a throwaway temp checkpoint and a restarted query re-reads (and the
    sink re-appends) every chunk.

    Returns the started StreamingQuery (caller drives/stops it).
    """
    from .zarr_v2 import zarr2_decode_specs

    spec_schema = (
        "uri string, t_idx int, lat_idx int, lon_idx int"
    )
    specs = (
        spark.readStream.schema(spec_schema)
        .option("maxFilesPerTrigger", max_chunks_per_trigger)
        .json(manifest_dir)
    )
    run = zarr2_decode_specs(meta)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.repartition(
            max(1, batch_df.sparkSession.sparkContext.defaultParallelism)
        ).mapInPandas(run, schema=row_schema(meta))
        sink_fn(rows, batch_id)

    writer = specs.writeStream.foreachBatch(process).trigger(availableNow=True)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def write_chunk_specs(meta: ChunkedDatasetMeta, manifest_dir: str) -> int:
    """Materialize the chunk manifest as JSON spec files — ONE file per
    chunk, so the streaming reader's ``maxFilesPerTrigger`` bounds
    chunks per micro-batch exactly. The specs are a few bytes each and
    already on the driver, which writes them: a Spark write cannot
    promise one output file per row. Returns the chunk count."""
    import json
    import os
    import shutil

    specs = _manifest_rows(meta)
    shutil.rmtree(manifest_dir, ignore_errors=True)
    os.makedirs(manifest_dir)
    for uri, t, la, lo in specs[["uri", "t_idx", "lat_idx", "lon_idx"]].itertuples(index=False):
        spec = {"uri": uri, "t_idx": int(t), "lat_idx": int(la), "lon_idx": int(lo)}
        with open(os.path.join(manifest_dir, f"chunk-{t}.{la}.{lo}.json"), "w") as f:
            json.dump(spec, f)
    return len(specs)


def scan(
    spark: SparkSession,
    meta: ChunkedDatasetMeta,
    time_range: tuple[str, str] | None = None,
    lat_range: tuple[float, float] | None = None,
    lon_range: tuple[float, float] | None = None,
    include_uri: bool = True,
) -> DataFrame:
    """Pruned chunk scan → long-format rows. Residual cell-level filters
    are applied after decode (chunks overlap range boundaries).

    ``include_uri=False`` drops the per-row ``data_uri`` string at the
    DECODE, not after: the column is constant per store, and carrying
    it through the Arrow boundary costs ~40 B/row — at a month of ERA5
    (747M rows) that is ~30 GB of serialized strings the consumer
    (open_dataset) previously dropped one operator later."""
    from .zarr_v2 import zarr2_decode_specs

    manifest = prune_chunks(chunk_manifest(spark, meta), time_range, lat_range, lon_range)
    rows = manifest.mapInPandas(
        zarr2_decode_specs(meta, include_uri=include_uri),
        schema=row_schema(meta, include_uri=include_uri),
    )
    if time_range is not None:
        rows = rows.filter(
            (F.col("time") >= F.lit(time_range[0]).cast("timestamp"))
            & (F.col("time") < F.lit(time_range[1]).cast("timestamp"))
        )
    if lat_range is not None:
        rows = rows.filter(F.col("latitude").between(*lat_range))
    if lon_range is not None:
        rows = rows.filter(F.col("longitude").between(*lon_range))
    return rows
