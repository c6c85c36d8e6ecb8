#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client driving the engine on
``local[<cores>]``.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed under ``.perfbench/`` (git-ignored), times operations for at least
``--seconds`` (the window closes at the end of the cycle it is in),
checks every operation's output outside the window, and prints one JSON
object as the last line of standard output: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

SIZES = {
    "full": {"registry_sf": 0.01, "mv_grid": (161, 321), "mv_files": 4,
             "mv_chunks": "4,40,80", "xql_hours": 120, "xql_chunks": (24, 40, 80)},
    "tiny": {"registry_sf": 0.001, "mv_grid": (41, 106), "mv_files": 2,
             "mv_chunks": "2,16,32", "xql_hours": 48, "xql_chunks": (24, 16, 32)},
}

END_TO_END = {"setup_s": "s", "op_p50_s": "s"}


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled every 0.2 s."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        parent, rss = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{pid}/statm") as f:
                    rss[int(pid)] = int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = sum(rss.get(p, 0) for p in tree)
        self.peak = max(self.peak, total)
        return total

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()


class Context:
    def __init__(self, args, tmp: str) -> None:
        self.seed, self.tmp, self.wrong_answer = args.seed, tmp, args.wrong_answer
        self.size = SIZES[args.size]
        self.cores = len(os.sched_getaffinity(0))


class Hooks:
    """What an operation reports to the run. With tracing on, phases
    become Spark job groups (``<op>:build`` / ``<op>:exec``) and are
    recorded with spans and a forced Catalyst pass; without, they cost
    nothing."""

    def __init__(self, spark, tracer=None) -> None:
        self.sc, self.tracer = spark.sparkContext, tracer
        self.op = "setup"

    @contextlib.contextmanager
    def phase(self, name: str):
        if self.tracer is None:
            yield
            return
        self.sc.setJobGroup(f"{self.op}:{name}", name, False)
        prev, self.tracer.phase = self.tracer.phase, name
        try:
            yield
        finally:
            self.tracer.phase = prev
            self.sc.setJobGroup(self.op, self.op, False)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def catalyst(self, df) -> None:
        """Traced runs only: force the optimized and physical plans."""
        if self.tracer is None:
            return
        with self.phase("plan"), self.span("plans.catalyst"):
            qe = df._jdf.queryExecution()
            qe.optimizedPlan()
            qe.executedPlan()


def spark_env(tmp: str, trace: bool) -> None:
    """Point every Spark scratch path into ``tmp`` and put the repository
    on the Python workers' import path, before the session starts."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: a JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(tmp, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full", help="tiny: self-test inputs")
    ap.add_argument("--wrong-answer", action="store_true",
                    help="self-test: check the first operation against a deliberately wrong answer")
    args = ap.parse_args(argv)
    t_proc = process_start()
    # a terminated run still stops Spark and removes its files (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "weather_tools_spark", "__init__.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    tmp = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        return run(args, tmp, t_proc, workloads)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, tmp: str, t_proc: float, workloads) -> int:
    ctx = Context(args, tmp)
    wl = workloads.WORKLOADS[args.workload](ctx)
    spark_env(tmp, bool(args.trace))
    rss = RssSampler()
    rss.start()

    tracer = None
    if args.trace:
        import tracing as tr_mod

        tracer = tr_mod.Tracer()
        tr_mod.count_py4j(tracer)
        import weather_tools_spark.cli  # noqa: F401  (load every module the workloads call)
        import weather_tools_spark.plans.xql  # noqa: F401
        import weather_tools_spark.queries  # noqa: F401
        import weather_tools_spark.session  # noqa: F401
        import weather_tools_spark.sources.opener  # noqa: F401
        import weather_tools_spark.sources.zarr_v2  # noqa: F401

        tr_mod.instrument(tracer)
        hooks_for_sources(tracer)

    t0 = time.time()
    with (tracer.span("sources.fixtures") if tracer else contextlib.nullcontext()):
        wl.fixtures()
    fixture_s = time.time() - t0

    from weather_tools_spark import session

    t0 = time.time()
    spark = session.get_spark("perfbench")
    get_spark_s = time.time() - t0
    try:
        ops, window_s, setup_s, warm_s, probes = measure(args, ctx, wl, spark, tracer, rss,
                                                         t_proc + fixture_s)
    finally:
        stop_spark(spark)

    failed = sum(1 for op in ops if not op.correct)
    lat = [op.seconds for op in ops]
    e2e = {"setup_s": setup_s, "op_p50_s": statistics.median(lat)}
    report(args, wl, ops, e2e, window_s, fixture_s, failed, rss.peak / 2**20)
    if tracer:
        import tracing as tr_mod

        layer = per_layer(tr_mod, tracer, ctx, wl, ops, tmp, get_spark_s, warm_s, probes)
        out_dir = os.path.join(WORK, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-{args.seed}.json")
        tracer.write(path, {"per_layer": layer, "end_to_end": e2e})
        print(f"# trace: {len(tracer.spans)} spans -> {os.path.relpath(path, ROOT)}", file=sys.stderr)
        report_overhead(args, e2e)
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layer.items()}
    else:
        save_untraced(args, e2e)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


def measure(args, ctx, wl, spark, tracer, rss, t_setup: float):
    """Warm up, run the timed window, then check every operation.
    ``t_setup`` is when set-up began, not counting fixture generation."""
    hooks = Hooks(spark, tracer)
    t0 = time.time()
    with hooks.span("session.warm"):
        wl.warm(spark, hooks)
    warm_s = time.time() - t0

    ops: list = []
    setup_s = time.time() - t_setup
    sc = spark.sparkContext
    window_start = time.perf_counter()
    for cycle in wl.cycles():
        for op in cycle:
            op.id = f"op{len(ops)}"
            hooks.op = op.id
            if tracer:
                tracer.op = op.id
            sc.setJobGroup(op.id, op.kind, False)
            t0 = time.perf_counter()
            try:
                with hooks.span(f"op.{op.kind}"):
                    wl.run(spark, op, hooks)
            except Exception as exc:  # an operation that raises counts as failed
                op.error = f"{type(exc).__name__}: {exc}"
                traceback.print_exc(file=sys.stderr)
            op.seconds = time.perf_counter() - t0
            ops.append(op)
        if time.perf_counter() - window_start >= args.seconds:
            break
    window_s = time.perf_counter() - window_start
    rss.stop()
    if tracer:
        tracer.op = None
    hooks.op = "check"
    sc.setJobGroup("check", "check", False)

    try:
        wl.check(spark, ops)
    except Exception:  # a check that cannot run leaves every op unverified
        traceback.print_exc(file=sys.stderr)
        for op in ops:
            op.correct = False
    probes = {}
    if tracer:  # both need the session: measure them before it stops
        probes = run_probes(ctx, tracer)
        probes["chunks"] = chunk_stats(tracer, wl, ops) if wl.name == "weather" else (0, 0, 0, 0)

    return ops, window_s, setup_s, warm_s, probes


def report(args, wl, ops, e2e, window_s, fixture_s, failed, peak_rss_mb) -> None:
    """Human-readable lines: the workload's own metric names, the sample
    counts, and every failure."""
    n = len(ops)
    print(f"# {wl.name} seed={args.seed} trace={args.trace}: {n} operations in a {window_s:.2f} s window; "
          f"fixtures {fixture_s:.2f} s (not in setup_s)")
    for k, v in e2e.items():
        print(f"#   {k} = {v:.6g} {END_TO_END[k]}")
    print(f"#   ops_per_s = {n / window_s:.6g} 1/s")
    for k, (v, unit) in wl.report(ops, window_s).items():
        print(f"#   {k} = {v:.6g} {unit}")
    print(f"#   peak_rss_mb = {peak_rss_mb:.6g} MB")
    print(f"#   failed_frac = {failed / max(1, n):.6g} ratio ({failed} of {n})")
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op.seconds)
    for kind, secs in sorted(by_kind.items()):
        line = f"#   {kind}: n={len(secs)} p50={statistics.median(secs):.4f} s"
        if len(secs) >= 100:  # p90 only with at least ten samples beyond it
            line += f" p90={quantile(secs, 0.9):.4f} s"
        print(line, file=sys.stderr)
    for op in ops:
        name = op.spec if isinstance(op.spec, str) else ""
        print(f"#   {op.id} {op.kind} {name} {op.seconds:.3f} s", file=sys.stderr)
        if not op.correct:
            print(f"# FAILED {op.id} {op.kind} {op.spec}: {op.error or 'wrong result'}", file=sys.stderr)


def save_untraced(args, e2e: dict) -> None:
    d = os.path.join(WORK, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{args.workload}-{args.seed}.json"), "w") as f:
        json.dump(e2e, f)


def report_overhead(args, e2e: dict) -> None:
    """Tracing overhead: this traced run against the untraced run of the
    same workload and seed, when one was made in this checkout."""
    path = os.path.join(WORK, "results", f"{args.workload}-{args.seed}.json")
    if not os.path.exists(path):
        print(f"# tracing overhead: unknown (run --trace 0 with seed {args.seed} first)")
        return
    with open(path) as f:
        base = json.load(f)
    k = "op_p50_s"
    print(f"# tracing overhead {k}: traced {e2e[k]:.6g} vs untraced {base[k]:.6g} ({e2e[k] / base[k] - 1:+.1%})")


def hooks_for_sources(tracer) -> None:
    """Capture the Zarr scan's template and its pruned chunk manifest so
    the traced run can count chunks read after each operation."""
    from weather_tools_spark.sources import zarr_scan

    scan, prune = zarr_scan.scan, zarr_scan.prune_chunks

    def scan_hook(spark, meta, *a, **kw):
        tracer.captured.setdefault(tracer.op, []).append({"meta": meta})
        return scan(spark, meta, *a, **kw)

    def prune_hook(*a, **kw):
        out = prune(*a, **kw)
        entries = tracer.captured.get(tracer.op)
        if entries:
            entries[-1]["manifest"] = out
        return out

    for fn, hook in ((scan, scan_hook), (prune, prune_hook)):
        hook.__module__, hook.__qualname__, hook.__name__ = fn.__module__, fn.__qualname__, fn.__name__
        setattr(zarr_scan, fn.__name__, hook)


def run_probes(ctx, tracer) -> dict:
    """Codec throughput measured in this process: GRIB2 and NetCDF-3 files
    and a Zarr store of the weather_mv grid, written by the fixture
    writers and decoded three times each (median)."""
    import grids
    from weather_tools_spark.sources import grib2, netcdf3, zarr_v2

    d = os.path.join(ctx.tmp, "probe")
    os.makedirs(d)
    ny, nx = ctx.size["mv_grid"]
    field = grids.Field(ctx.seed)
    out = {}
    with tracer.span("sources.probe"):
        g, n, z = os.path.join(d, "p.grib2"), os.path.join(d, "p.nc"), os.path.join(d, "p.zarr")
        t0 = time.time()
        grids.write_grib2_file(g, field, 0, ny, nx)
        out["grib2_encode_s"] = time.time() - t0
        grids.write_netcdf3_file(n, field, 0, ny, nx)
        nt = ctx.size["xql_chunks"][0]
        grids.write_zarr_store(z, field, nt, ny, nx, ctx.size["xql_chunks"])
        cells = ny * nx * len(grids.VARS)
        out["grib2_decode_cells_per_s"] = cells / _median_time(lambda: grib2.grib2_decode(g))
        out["nc3_decode_cells_per_s"] = cells / _median_time(lambda: netcdf3.nc3_decode(n, None))
        md = zarr_v2.read_store_metadata(z)
        keys = [(k, md[f"{k}/.zarray"]) for k in grids.VARS]

        def decode_store():
            za0 = keys[0][1]
            grid = [-(-s // c) for s, c in zip(za0["shape"], za0["chunks"])]
            import numpy as np

            for var, za in keys:
                for idx in np.ndindex(*grid):
                    zarr_v2.decode_chunk(z, var, za, idx)

        out["zarr_decode_cells_per_s"] = nt * cells / _median_time(decode_store)
    return out


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


PER_LAYER_UNITS = {
    "session.get_spark_s": "s", "session.warm_s": "s",
    "catalog.load_table_calls": "count", "catalog.load_table_s": "s",
    "queries.build_s": "s", "queries.py4j_calls": "count", "queries.build_jobs": "count",
    "plans.catalyst_s": "s", "plans.xql_rewrite_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.slot_idle_frac": "ratio", "exec.task_max_over_median": "ratio",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
    "operators.python_bytes": "B", "operators.persist_bytes": "B",
    "sources.grib2_decode_cells_per_s": "cells/s", "sources.nc3_decode_cells_per_s": "cells/s",
    "sources.zarr_decode_cells_per_s": "cells/s",
    "sources.open_dataset_s": "s", "sources.zarr_write_s": "s",
    "sources.chunks_scanned": "count", "sources.cells_decoded_per_cell_returned": "ratio",
    "sources.bytes_read": "B", "sources.grib2_encode_s": "s",
}


def per_layer(tr_mod, tracer, ctx, wl, ops, tmp, get_spark_s, warm_s, probes) -> dict:
    """Per-operation means of every layer metric (ratios from totals)."""
    import glob

    groups = tr_mod.read_event_log(sorted(glob.glob(os.path.join(tmp, "events", "*"))))
    n = max(1, len(ops))
    # Spark's jobs join the trace under the innermost span of their
    # operation that was open when the job started
    for op in ops:
        own = [s for s in tracer.spans if s["op"] == op.id and s["end"] is not None]
        for phase in ("build", "exec"):
            for lo, hi in groups.get(f"{op.id}:{phase}", {}).get("job_intervals", []):
                around = [s for s in own if s["start"] <= lo <= s["end"]]
                parent = max(around, key=lambda s: s["start"])["id"] if around else None
                tracer.add_span(f"exec.job.{phase}", lo, hi, parent, op.id)

    def total(key: str, phase: str) -> float:
        return sum(groups.get(f"{op.id}:{phase}", {}).get(key, 0.0) for op in ops)

    def spans(prefix: str) -> float:
        return sum(tracer.layer_seconds(prefix, op.id) for op in ops)

    calls = sum(1 for s in tracer.spans if s["name"] == "catalog.catalog.load_table" and s["op"])
    action = spans("exec.action")
    run_s = total("executor_run_s", "exec")
    scanned = probes["chunks"]
    out = {
        "session.get_spark_s": get_spark_s,
        "session.warm_s": warm_s,
        "catalog.load_table_calls": calls / n,
        "catalog.load_table_s": spans("catalog.catalog.load_table") / n,
        "queries.build_s": spans("queries.build") / n,
        "queries.py4j_calls": tracer.counts.get("py4j.build", 0) / n,
        "queries.build_jobs": total("jobs", "build") / n,
        "plans.catalyst_s": spans("plans.catalyst") / n,
        "plans.xql_rewrite_s": spans("plans.xql.rewrite") / n,
        "exec.action_s": action / n,
        "exec.jobs": total("jobs", "exec") / n,
        "exec.stages": total("stages", "exec") / n,
        "exec.tasks": total("tasks", "exec") / n,
        "exec.failed_tasks": total("failed_tasks", "exec") / n,
        "exec.slot_idle_frac": 1.0 - run_s / (action * ctx.cores) if action else 0.0,
        "exec.task_max_over_median": total("task_max_over_median", "exec") / n,
        "exec.executor_run_s": run_s / n,
        "exec.executor_cpu_s": total("executor_cpu_s", "exec") / n,
        "exec.gc_s": total("gc_s", "exec") / n,
        "exec.shuffle_read_bytes": total("shuffle_read_bytes", "exec") / n,
        "exec.shuffle_write_bytes": total("shuffle_write_bytes", "exec") / n,
        "exec.spill_bytes": total("spill_bytes", "exec") / n,
        "operators.python_bytes": (total("python_bytes", "exec") + total("python_bytes", "build")) / n,
        "operators.persist_bytes": (total("persist_bytes", "exec") + total("persist_bytes", "build")) / n,
        "sources.grib2_decode_cells_per_s": probes["grib2_decode_cells_per_s"],
        "sources.nc3_decode_cells_per_s": probes["nc3_decode_cells_per_s"],
        "sources.zarr_decode_cells_per_s": probes["zarr_decode_cells_per_s"],
        "sources.open_dataset_s": spans("sources.opener.open_dataset") / n,
        "sources.zarr_write_s": spans("sources.zarr_v2.write_zarr_v2") / n,
        "sources.chunks_scanned": scanned[0] / n,
        "sources.cells_decoded_per_cell_returned": scanned[2] / scanned[3] if scanned[3] else 0.0,
        "sources.bytes_read": scanned[1] / n,
        "sources.grib2_encode_s": probes["grib2_encode_s"],
    }
    for name, rec in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]["self_s"])[:25]:
        print(f"#   span {name}: calls={rec['calls']} total={rec['total_s']:.3f} s self={rec['self_s']:.3f} s",
              file=sys.stderr)
    return out


def chunk_stats(tracer, wl, ops) -> tuple[int, int, int, int]:
    """Chunk files read, their bytes, cells decoded and cells the
    statements asked for, over the timed xql operations."""
    import numpy as np

    chunks = nbytes = decoded = needed = 0
    for op in ops:
        for entry in tracer.captured.get(op.id, []):
            meta, manifest = entry["meta"], entry.get("manifest")
            if manifest is None:
                continue
            keys = [(r.t_idx, r.lat_idx, r.lon_idx) for r in manifest.select("t_idx", "lat_idx", "lon_idx").collect()]
            for v in meta.variables:
                for k in keys:
                    nbytes += os.path.getsize(os.path.join(meta.uri, v, ".".join(map(str, k))))
            chunks += len(keys) * len(meta.variables)
            decoded += len(keys) * len(meta.variables) * int(np.prod(
                (meta.chunk_time, meta.chunk_lat, meta.chunk_lon)))
        if op.error is None and op.kind.startswith("xql"):
            needed += wl.cells_needed(op.spec)
    return chunks, nbytes, decoded, needed


if __name__ == "__main__":
    sys.exit(main())
