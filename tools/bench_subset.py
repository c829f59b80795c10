"""Times a NAMED SUBSET of bench.py's HEADLINE queries with bench.py's
own loop (bench.time_queries), so before/after numbers compare
directly with the committed BENCH records without running the whole
suite on every iteration.

Usage: python tools/bench_subset.py q1_pricing_summary dedup_components ...
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS (local core count, default bench behavior).
Prints one JSON line: {"queries": {...}, "query_n_jobs": {...}, ...}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
import medallion_architecture_using_apache_iceberg_table_buckets_spark as mats


def main() -> None:
    names = sys.argv[1:]
    unknown = [n for n in names if n not in bench.HEADLINE]
    if unknown:
        raise SystemExit(f"not in bench.HEADLINE: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = mats.get_spark(
        app_name="mats-bench-subset",
        extra_conf={"spark.ui.retainedJobs": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    rec = bench.time_queries(spark, sf_dir, names)
    print(json.dumps({**rec, "total": round(sum(rec["queries"].values()), 3)}))


if __name__ == "__main__":
    main()
