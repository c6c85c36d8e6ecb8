#!/usr/bin/env python3
"""Re-measure the reference costs in ``registry.json`` and check the
frozen query list against its oracles.

    python3 perfbench/refresh_registry.py [seed]

Generates the sf0.1 tables for ``seed`` (default 0), then for every
query in the list measures its build plus ``noop`` write time (best of
two, warm session) into ``cost_s``, by which the panel is chosen, and
compares its collected result with its DuckDB oracle in the strict
sweep's comparison form. A query that disagrees is reported and the script
exits 1 without writing, so the list never holds a query known to fail.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = ROOT
    import duckdb

    import tables
    from weather_tools_spark.catalog import TABLES
    from weather_tools_spark.operators.dedup import release_persisted
    from weather_tools_spark.queries import ORACLE, SPARK
    from weather_tools_spark.session import get_spark
    from workloads import _as_strings

    seed = int(argv[0]) if argv else 0
    path = os.path.join(HERE, "registry.json")
    with open(path) as f:
        spec = json.load(f)
    spark = get_spark("perfbench-refresh")
    cost: dict[str, float] = {}
    bad = []
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as tmp:
        d = tables.write(tmp, 0.1, seed)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        for name in spec["queries"]:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                SPARK[name](spark, d).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                release_persisted()
            cost[name] = round(best, 3)
            got = SPARK[name](spark, d).toPandas()
            release_persisted()
            if name in ORACLE and not _as_strings(got).equals(_as_strings(con.execute(ORACLE[name]).df())):
                bad.append(name)
            print(f"{name}: {cost[name]:.2f} s", file=sys.stderr, flush=True)
        con.close()
    spark.stop()
    if bad:
        print(f"Spark disagrees with the oracle on {bad}; registry.json not written", file=sys.stderr)
        return 1
    spec["cost_s"] = cost
    with open(path, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
