"""The benchmark's workloads. Each one generates its inputs from the seed,
warms the session, yields its operations in cycles, runs one operation
and, after the timed window, checks every operation's output.

- ``registry``: registry queries over generated star-schema tables, one
  query per operation (DataFrame build, then the result collected).
- ``weather``: the paper's own paths, alternating two kinds of
  operation: ``weather-mv`` jobs over batches of generated GRIB2 and
  NetCDF-3 files into Zarr v2 and parquet sinks (the write path), and xql
  statements over a generated Zarr v2 store, chunk-pruned or full-scan
  (the read path).
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import statistics
import sys

import numpy as np

import grids
import tables

HERE = os.path.dirname(os.path.abspath(__file__))
NY_BBOX = (40.47, 40.92, -74.26, -73.69)  # xql's city='new york' box


class Op:
    """One operation. ``kind`` groups operations for the report; ``spec``
    is what the workload needs to run and check it."""

    def __init__(self, kind: str, spec) -> None:
        self.kind, self.spec = kind, spec
        self.id = ""
        self.seconds = 0.0
        self.error: str | None = None
        self.correct = False
        self.cells = 0
        self.result = None


class Registry:
    """A fixed panel of the frozen registry query list over tables
    generated from the seed.

    The panel (``registry.json``) holds one query per octile of the
    list's reference cost, each from a different family: xql-shaped,
    TPC-H, text, statistics, events, graph, ML and dedup, so it spans the
    cheap aggregates through the dedup tail. It runs in the same order
    every cycle. The seed changes the table values, not the queries or
    their order: a cycle is eight cold queries in a fresh session, and
    with per-seed query draws or orders the spread between runs was
    several times the regression bound.

    The operation's action is ``toPandas()``: the timed result is the
    one checked, and no query has to run twice."""

    name = "registry"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        with open(os.path.join(HERE, "registry.json")) as f:
            self.spec = json.load(f)
        self.dir = os.path.join(ctx.tmp, "tables")

    def fixtures(self) -> None:
        tables.write(self.dir, self.ctx.size["registry_sf"], self.ctx.seed)

    def warm(self, spark, hooks) -> None:
        from weather_tools_spark.queries import SPARK

        for name in self.spec["warmup"]:
            SPARK[name](spark, self.dir).toPandas()
            _release()
        _warm_python_workers(spark)

    def cycles(self):
        while True:
            yield [Op("query", name) for name in self.spec["panel"]]

    def run(self, spark, op: Op, hooks) -> None:
        from weather_tools_spark.queries import SPARK

        with hooks.phase("build"), hooks.span("queries.build"):
            df = SPARK[op.spec](spark, self.dir)
        hooks.catalyst(df)
        with hooks.phase("exec"), hooks.span("exec.action"):
            op.result = df.toPandas()
        _release()

    def check(self, spark, ops: list[Op]) -> None:
        """Compare each result with the query's DuckDB oracle over the
        same files, in the strict sweep's comparison form: sorted columns,
        every value as its string."""
        import duckdb

        from weather_tools_spark.catalog import TABLES
        from weather_tools_spark.queries import ORACLE

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            for k, op in enumerate(ops):
                if op.error is None:
                    want = _as_strings(con.execute(ORACLE[op.spec]).df())
                    if self.ctx.wrong_answer and k == 0:
                        want = want.iloc[1:].reset_index(drop=True)
                    op.correct = _as_strings(op.result).equals(want)
                op.result = None
        finally:
            con.close()

    def report(self, ops: list[Op], window_s: float) -> dict:
        lat = [op.seconds for op in ops]
        return {"query_p50_s": (statistics.median(lat), "s"), "queries_per_s": (len(ops) / window_s, "1/s")}


def _as_strings(pdf):
    return pdf[sorted(pdf.columns)].astype(str).reset_index(drop=True)


def _release() -> None:
    from weather_tools_spark.operators.dedup import release_persisted

    release_persisted()


def _warm_python_workers(spark) -> None:
    """Start a Python worker on every core and import pandas there."""

    def touch(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    (spark.range(n * 64).repartition(n).mapInPandas(touch, "id long")
     .write.format("noop").mode("overwrite").save())


class Weather:
    """weather-mv jobs and xql statements, alternating.

    A cycle is four operations: GRIB2→Zarr ingest, a pruned statement,
    NetCDF→parquet ingest, a full-store statement. Each ingest runs over
    its own batch of hourly files on a regional 0.25° grid starting at a
    seeded hour, so both codecs and both sinks run in every cycle.

    The statements query a Zarr v2 store of the same grid. A pruned
    statement passes its ranges and ``variables=`` to ``open_dataset``,
    so chunks outside its box are never read; a full statement passes
    nothing, every chunk decodes and the predicates filter after the
    scan. Statement parameters are seeded.

    The kinds of operation in a cycle are fixed, so the seed changes
    the data and the statements, not the mix."""

    name = "weather"
    INGEST = (("grib2", "zarr"), ("netcdf", "parquet"))

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.field = grids.Field(ctx.seed)
        self.rng = random.Random(ctx.seed)
        self.ny, self.nx = ctx.size["mv_grid"]
        self.nt = ctx.size["xql_hours"]
        self.days = self.nt // 24
        # name -> (format, directory, hours, grid rows, grid columns)
        self.batches = {"warm": ("grib2", os.path.join(ctx.tmp, "warm-in"), [0], 21, 41)}
        for fmt, _ in self.INGEST:
            start = self.rng.randrange(0, 24 * 27)
            hours = list(range(start, start + ctx.size["mv_files"]))
            self.batches[fmt] = (fmt, os.path.join(ctx.tmp, fmt), hours, self.ny, self.nx)
        self.store = os.path.join(ctx.tmp, "store.zarr")
        self.out = os.path.join(ctx.tmp, "out")

    def fixtures(self) -> None:
        for fmt, d, hours, ny, nx in self.batches.values():
            os.makedirs(d)
            for h in hours:
                if fmt == "grib2":
                    grids.write_grib2_file(os.path.join(d, f"h{h:04d}.grib2"), self.field, h, ny, nx)
                else:
                    grids.write_netcdf3_file(os.path.join(d, f"h{h:04d}.nc"), self.field, h, ny, nx)
        grids.write_zarr_store(self.store, self.field, self.nt, self.ny, self.nx, self.ctx.size["xql_chunks"])

    def warm(self, spark, hooks) -> None:
        """One small GRIB2 file into Zarr and one pruned statement: the
        decode, shuffle and scan paths, at little cost."""
        self._mv("warm", "zarr", os.path.join(self.ctx.tmp, "warm-out"))
        self._query(spark, self._pruned(random.Random(0)), hooks)

    def cycles(self):
        while True:
            (g, gs), (n, ns) = self.INGEST
            yield [Op(f"mv {g}->{gs}", (g, gs)), Op("xql pruned", self._pruned(self.rng)),
                   Op(f"mv {n}->{ns}", (n, ns)), Op("xql full", self._full(self.rng))]

    # -- operations --------------------------------------------------------

    def run(self, spark, op: Op, hooks) -> None:
        if op.kind.startswith("mv"):
            batch, sink = op.spec
            op.spec = (batch, sink, os.path.join(self.out, op.id))
            with hooks.phase("exec"), hooks.span("exec.action"):
                self._mv(*op.spec)
        else:
            op.result = self._query(spark, op.spec, hooks)

    def _mv(self, batch: str, sink: str, out: str) -> None:
        from weather_tools_spark import cli

        fmt, d = self.batches[batch][:2]
        argv = ["mv", "--uris", os.path.join(d, "*.grib2" if fmt == "grib2" else "*.nc"), "--output", out]
        if sink == "zarr":
            argv += ["--zarr", "--chunks", self.ctx.size["mv_chunks"]]
        with contextlib.redirect_stdout(sys.stderr):
            rc = cli.main(argv)
        if rc != 0:
            raise RuntimeError(f"weather-mv exited {rc}")

    def _query(self, spark, stmt: dict, hooks):
        from weather_tools_spark.plans.xql import run_query
        from weather_tools_spark.sources.opener import open_dataset

        with hooks.phase("build"):
            open_dataset(spark, self.store, view="weather", **stmt["open"])
            df = run_query(spark, stmt["sql"])
        hooks.catalyst(df)
        with hooks.phase("exec"), hooks.span("exec.action"):
            return [tuple(r) for r in df.collect()]

    # -- statements ----------------------------------------------------------

    def _pruned(self, r: random.Random) -> dict:
        """The reference's flagship statement over two seeded days, with
        the New-York box, the days and the variable passed to ``open_dataset``."""
        v, d0 = r.choice(grids.VARS), r.randrange(0, self.days - 1)
        trange = (_day(d0), _day(d0 + 2))
        return {"var": v, "trange": trange, "sql": _flagship(v),
                "open": {"time_range": trange, "lat_range": NY_BBOX[:2], "lon_range": NY_BBOX[2:],
                         "variables": [v]}}

    def _full(self, r: random.Random) -> dict:
        """The same statement over the whole store: every chunk decodes."""
        v = r.choice(grids.VARS)
        return {"var": v, "trange": None, "sql": _flagship(v), "open": {}}

    # -- checks --------------------------------------------------------------

    def check(self, spark, ops: list[Op]) -> None:
        first = True
        for op in ops:
            if op.error is not None:
                continue
            bias = 1 if self.ctx.wrong_answer and first else 0
            first = False
            if op.kind.startswith("mv"):
                batch, sink, out = op.spec
                hours = self.batches[batch][2]
                check = self._check_zarr if sink == "zarr" else self._check_parquet
                op.correct, op.cells = check(out, hours, bias)
            else:
                want = self.expected(op.spec)
                op.correct = len(op.result) == len(want) and all(
                    g[0] == w[0] and all(np.isclose(float(a), float(b) + bias, rtol=1e-9, atol=0)
                                         for a, b in zip(g[1:], w[1:]))
                    for g, w in zip(op.result, want))

    def _check_parquet(self, out: str, hours: list[int], bias: int) -> tuple[bool, int]:
        """Every cell of every file lands once, at the packing's precision."""
        import pyarrow.parquet as pq

        t = pq.read_table(out).to_pandas()
        y, x = grids.grid_index(t["latitude"].to_numpy(), t["longitude"].to_numpy())
        h = (t["time"].to_numpy().astype("datetime64[s]") - grids.EPOCH) // np.timedelta64(1, "h")
        h = h.astype(np.int64)
        ok = len(t) == len(hours) * self.ny * self.nx and set(np.unique(h)) == set(hours)
        ok = ok and len(np.unique((h * self.ny + y) * self.nx + x)) == len(t)
        for v in grids.VARS:
            got = np.rint(t[v].to_numpy() * 1000).astype(np.int64)
            ok = ok and bool(np.array_equal(got, self.field.milli(v, h, y, x) + bias))
        return ok, len(t) * len(grids.VARS)

    def _check_zarr(self, out: str, hours: list[int], bias: int) -> tuple[bool, int]:
        got_hours, la, lo, data = grids.read_zarr_store(out)
        ok = (list(got_hours) == hours and np.array_equal(la, grids.lats(self.ny))
              and np.array_equal(lo, grids.lons(self.nx)) and set(data) == set(grids.VARS))
        cells = 0
        for v in grids.VARS if ok else ():
            want = self.field.cube(v, hours, self.ny, self.nx)
            ok = ok and bool(np.array_equal(np.rint(data[v] * 1000), np.rint(want * 1000) + bias))
            cells += int(np.isfinite(data[v]).sum())
        return ok, cells

    def expected(self, stmt: dict) -> list[tuple]:
        """Closed-form answer: daily means of the New-York box, from the
        field in NumPy."""
        ys, xs, hours = self._box(stmt)
        days = (hours // 24).astype(np.int64)
        cube = self.field.cube(stmt["var"], hours, self.ny, self.nx)[:, ys][:, :, xs]
        return [(_day(d), float(cube[days == d].mean())) for d in np.unique(days)]

    def cells_needed(self, stmt: dict) -> int:
        """Cells a statement reads: the box over its hours, one variable."""
        ys, xs, hours = self._box(stmt)
        return len(ys) * len(xs) * len(hours)

    def _box(self, stmt: dict):
        la, lo = grids.lats(self.ny), grids.lons(self.nx)
        ys = np.flatnonzero((la >= NY_BBOX[0]) & (la <= NY_BBOX[1]))
        xs = np.flatnonzero((lo >= NY_BBOX[2]) & (lo <= NY_BBOX[3]))
        trange = stmt["trange"]
        h0, h1 = (_hours(trange[0]), min(_hours(trange[1]), self.nt)) if trange else (0, self.nt)
        return ys, xs, np.arange(h0, h1)

    def report(self, ops: list[Op], window_s: float) -> dict:
        mv = [op for op in ops if op.kind.startswith("mv")]
        xq = [op for op in ops if op.kind.startswith("xql")]
        return {
            "ingest_p50_s": (statistics.median(op.seconds for op in mv), "s"),
            "ingest_cells_per_s": (sum(op.cells for op in mv if op.correct) / sum(op.seconds for op in mv),
                                   "cells/s"),
            "xql_p50_s": (statistics.median(op.seconds for op in xq), "s"),
            "xql_per_s": (len(xq) / sum(op.seconds for op in xq), "1/s"),
        }


def _flagship(v: str) -> str:
    return (f"SELECT time_date, AVG('{v}') FROM weather WHERE city = 'new york' "
            "GROUP BY time_date ORDER BY time_date")


def _day(d: int) -> str:
    return str((grids.EPOCH + np.timedelta64(d, "D")).astype("datetime64[D]"))


def _hours(stamp: str) -> int:
    return int((np.datetime64(stamp, "s") - grids.EPOCH) // np.timedelta64(1, "h"))


WORKLOADS = {w.name: w for w in (Registry, Weather)}
