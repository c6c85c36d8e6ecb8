#!/usr/bin/env python3
"""Regenerate PLANS.md: physical-plan profile of the headline queries.

Usage: python tools/plan_profile.py [sf_dir]   (default sf0.01)
Counts Exchange / join-strategy / HashAggregate / Arrow-python operators
in the formatted plan of each headline query and of each registry query
that decodes a work list of files or Zarr chunks.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def profile(plan: str) -> dict[str, int]:
    import re

    # count the "(N) NodeName" detail headers — each physical node
    # appears exactly once there (the tree section repeats names)
    def n(name: str) -> int:
        return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.MULTILINE))

    return {
        "Exch": n("Exchange"),
        "BHJ": n("BroadcastHashJoin"),
        "SMJ": n("SortMergeJoin"),
        "BNLJ": n("BroadcastNestedLoopJoin"),
        "CART": n("CartesianProduct"),
        "HashAgg": n("HashAggregate"),
        "Py": n("MapInPandas") + n("FlatMapGroupsInPandas") + n("ArrowEvalPython"),
    }


# registry queries that read through hypercube.ingest, zarr_scan.scan,
# open_dataset or build_grib_manifest: one decode task per file or chunk
WORK_LIST = [
    "netcdf_roundtrip_agg",
    "netcdf4_roundtrip_agg",
    "grib_roundtrip_agg",
    "grib1_roundtrip_agg",
    "format_transcode_chain",
    "zarr_pruned_scan_agg",
    "grib_manifest_pruned_scan",
    "xql_zarr_daily_avg",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from bench import HEADLINE
    from weather_tools_spark.queries import SPARK
    from weather_tools_spark.session import get_spark

    spark = get_spark("plan_profile")

    def profiles(names):
        rows = []
        for name in names:
            df = SPARK[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            rows.append((name, profile(plan)))
        return rows

    rows, work = profiles(HEADLINE), profiles(WORK_LIST)

    cols = ["Exch", "BHJ", "SMJ", "BNLJ", "CART", "HashAgg", "Py"]
    header = ["| query | " + " | ".join(cols) + " |", "|---|" + "---|" * len(cols)]

    def table(rows):
        return header + [
            "| " + name + " | " + " | ".join(str(p[c]) for c in cols) + " |"
            for name, p in rows
        ]

    out = [
        "# PLANS — physical-plan profile of the headline queries",
        "",
        f"Generated by tools/plan_profile.py against {sf_dir} (AQE-initial",
        "plans; AQE may further coalesce/convert at runtime). 'Exch' counts",
        "Exchange operators — the shuffle budget of the query; BHJ/SMJ/BNLJ/",
        "CART the join strategies; 'Py' Arrow/pandas stages (ingest/vector",
        "kernels only).",
        "",
        *table(rows),
        "",
        "Reading guide: dimension joins broadcast (BHJ) everywhere; no",
        "CartesianProduct appears in any headline plan, and the single BNLJ",
        "(q22) is the broadcast one-row scalar-subquery attach — the correct",
        "plan for a scalar comparison, not a join regression; aggregation is",
        "two-phase (HashAgg pairs) so map-side combine",
        "bounds shuffle rows; Python stages appear only in the",
        "vector-similarity kernels where a BLAS matmul beats JVM expression",
        "evaluation ~100x (embedding_lsh_pairs adds one FlatMapGroupsInPandas",
        "— the per-bucket exact-pair kernel). Exch counts are STATIC (AQE-",
        "initial): a self-join over a shared lineage prints each shuffle once",
        "per subtree instance, but runtime ReusedExchange collapses the",
        "duplicates (text_burrows_delta: 30 static, 9 reused at runtime,",
        "0.16 s — the measured A/B in its docstring is the authority, not",
        "this column).",
        "",
        "## Work-list reads",
        "",
        "Registry queries that decode a local work list: one task per",
        "file (hypercube.ingest, open_dataset, build_grib_manifest) or per",
        "Zarr chunk (zarr_scan.scan). The list is a pandas frame, planned as",
        "a LocalTableScan of min(units, defaultParallelism) partitions",
        "directly under the decode's MapInPandas, so reading it costs no",
        "Exchange; the Exch column counts the queries' own aggregates and",
        "joins.",
        "",
        *table(work),
        "",
    ]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    # hand-written audit sections live below the marker and survive
    # regeneration
    marker = "<!-- MANUAL SECTIONS BELOW — preserved by tools/plan_profile.py -->"
    manual = ""
    if os.path.exists(path):
        with open(path) as f:
            prev = f.read()
        if marker in prev:
            manual = prev[prev.index(marker):]
    with open(path, "w") as f:
        f.write("\n".join(out))
        f.write("\n" + (manual or marker + "\n"))
    print(f"PLANS.md regenerated: {len(rows) + len(work)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
