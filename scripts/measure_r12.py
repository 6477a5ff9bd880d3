"""Optimization measurement harness (guide §1).

For each named query: run once untimed (JIT/footer warm), then time the
computation with the noop sink (guide §1.4 — every column of every row,
no sink cost, no count() column-pruning), record the Spark job/stage count
via the status tracker, and dump .explain("formatted") to plans/r12/.

Usage:
    python scripts/measure_r12.py [--suffix before|after] [--sf DIR] [query ...]

Prints one JSON line per query: {"name", "noop_sec", "count_sec", "jobs",
"stages"} and a total at the end. Job counts come from the status tracker
delta around the timed run — an approximation (AQE sub-jobs included),
good enough to compare before/after.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SET = [
    # headline
    "bgp_join_agg", "agg_suite", "optional_count", "exists_bigqty",
    "path_closure_ancestors", "gas_bfs_tree", "gas_cc_bipartite",
    "gas_pagerank", "fulltext_search", "dedup_exact", "dedup_minhash_lsh",
    "ann_cosine_topk", "text_quality", "stream_window_agg", "geo_radius",
    "rdfs_closure_types",
    # curation suite
    "text_paragraph_dedup", "dataset_dsir_resample", "quality_nb_classifier",
    "text_ccnet_buckets", "ann_matryoshka",
]


def main() -> None:
    args = sys.argv[1:]
    suffix = "before"
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        del args[i : i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    names = args or DEFAULT_SET

    from blazegraph_database_spark.registry import all_queries
    from blazegraph_database_spark.session import get_spark

    spark = get_spark("measure-r12")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = all_queries()
    tracker = spark.sparkContext.statusTracker()
    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r12")
    os.makedirs(plans_dir, exist_ok=True)

    total_noop = 0.0
    for name in names:
        if name not in catalog:
            print(json.dumps({"name": name, "error": "not registered"}))
            continue
        fn = catalog[name]["fn"]
        spark.sparkContext.setJobDescription(f"warm:{name}")
        fn(spark, sf_dir).count()  # warm: JIT + parquet footers + memo caches

        # formatted plan (static, pre-AQE) for the deliverable
        try:
            plan_txt = fn(spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan_txt)
        except Exception as e:  # pragma: no cover
            print(f"  (plan dump failed for {name}: {e})", file=sys.stderr)

        jobs0 = len(tracker.getJobIdsForGroup(None) or [])
        spark.sparkContext.setJobDescription(f"noop:{name}")
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        noop_sec = time.time() - t0
        # job ids are global/increasing; count jobs triggered by this run
        all_jobs = tracker.getJobIdsForGroup(None) or []
        jobs = len(all_jobs) - jobs0

        spark.sparkContext.setJobDescription(f"count:{name}")
        t0 = time.time()
        fn(spark, sf_dir).count()
        count_sec = time.time() - t0
        spark.sparkContext.setJobDescription(None)

        total_noop += noop_sec
        print(json.dumps({
            "name": name,
            "noop_sec": round(noop_sec, 3),
            "count_sec": round(count_sec, 3),
            "jobs": jobs,
        }), flush=True)
    print(json.dumps({"total_noop_sec": round(total_noop, 3), "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
