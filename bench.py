"""Benchmark harness — prints ONE JSON line with headline query times.

Contract (driver): runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; output is
a single JSON line:
  {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is forced end-to-end with the noop sink (full execution,
no collection/driver materialization cost in the measurement).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import medallion_architecture_using_apache_iceberg_table_buckets_spark as mats
from __spark_entry__ import queries
from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
    relational as R,
)

# Registry entries deliberately NOT benched, each with its reason; every
# other entry is benched (the no-silent-caps rule: the bench record
# carries this list verbatim so coverage is auditable). Classes:
#   trivial    — single-scan / scalar-expression / one-window shapes
#                whose cost is a strict subset of a benched query;
#                `sibling` names the benched query that covers the
#                machinery.
#   streaming  — availableNow checkpoint setup dominates wall time;
#                measuring it benchmarks the checkpoint dir, not the
#                operator (oracle mirror + streaming suites cover
#                correctness; micro-latency is not a batch-bench fit).
EXCLUDED_REASONS = {
    "a1_count_star": ("trivial", "q1_pricing_summary"),
    "s1_scan_filter_project": ("trivial", "q1_pricing_summary"),
    "f3_derive_partition_date": ("trivial", "events_daily_summary"),
    "scalar_string_math": ("trivial", "q1_pricing_summary"),
    "date_arithmetic": ("trivial", "q1_pricing_summary"),
    "array_map_funcs": ("trivial", "text_quality"),
    "json_extract_events": ("trivial", "events_daily_summary"),
    "subquery_max_order": ("trivial", "q15_top_supplier"),
    "set_union_segments": ("trivial", "join_semi_big_spenders"),
    "set_intersect_building_buyers": ("trivial", "join_semi_big_spenders"),
    "set_except_nonbuyers": ("trivial", "join_anti_never_ordered"),
    "window_running_totals": ("trivial", "w1_latest_per_key"),
    "window_moving_avg": ("trivial", "w1_latest_per_key"),
    "window_rank_functions": ("trivial", "w1_latest_per_key"),
    "agg_collect_sorted": ("trivial", "agg_rollup_orders"),
    "agg_distinct_customers": ("trivial", "agg_rollup_orders"),
    "agg_grouping_sets": ("trivial", "agg_cube_status_priority"),
    "pivot_event_counts": ("trivial", "events_daily_summary"),
    "join_full_outer_spend": ("trivial", "join_semi_big_spenders"),
    "catalog_history_metadata": ("trivial", "sql_ctas_time_travel"),
    "incremental_scan_changelog": ("trivial", "cdc_changelog_diff"),
    "schema_evolution_sql": ("trivial", "sql_ctas_time_travel"),
    "multimodal_meta": ("trivial", "multimodal_decode_image"),
    "multimodal_frames": ("trivial", "multimodal_decode_video"),
    "multimodal_resize": ("trivial", "multimodal_resize_pixels"),
    "multimodal_embed_dims": ("trivial", "ann_bruteforce_topk"),
    "text_fingerprint": ("trivial", "text_quality"),
    "text_langid": ("trivial", "text_langid_confusion"),
    "text_token_counts": ("trivial", "text_quality"),
    "text_chunk_windows": ("trivial", "text_cdc_chunks"),
    "text_chunk_texts": ("trivial", "pack_training_sequences"),
    "text_boilerplate_ngrams": ("trivial", "text_top_ngrams"),
    "text_quality_percentile_cut": ("trivial", "text_quality_filter"),
    "sample_hash_events": ("trivial", "sample_mixture_documents"),
    "sample_stratified_events": ("trivial", "sample_mixture_documents"),
    "dedup_keep_list": ("trivial", "dedup_components"),
    "dedup_normalized_groups": ("trivial", "dedup_exact_groups"),
    "sketch_hll_distinct": ("trivial", "sketch_hll_rollup_merge"),
    "streaming_windowed_counts": ("streaming", None),
    "streaming_topk_trending": ("streaming", None),
    "streaming_sessionize": ("streaming", None),
    "streaming_dedup": ("streaming", None),
    "streaming_interval_join": ("streaming", None),
    "streaming_static_enrich": ("streaming", None),
    "streaming_incremental_grams": ("streaming", None),
}

# every registry entry not excluded above, sorted by name so that
# reordering the registry never reorders the bench
HEADLINE = {
    n: fn for n, fn in sorted(queries().items()) if n not in EXCLUDED_REASONS
}

# the 14 queries recorded since round 1 — their sum is the anchored
# baseline comparison (BASELINE.md: r01 = 20.605s at sf0.1)
R01_SUBSET = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "w1_latest_per_key", "o1_topk_latest", "join_broadcast_brand_stats",
    "agg_rollup_orders", "asof_click_purchase", "events_daily_summary",
    "medallion_merge_state", "dedup_minhash_lsh_pairs",
    "dedup_simhash_pairs", "ann_bruteforce_topk", "text_quality",
]


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# Per-query session overrides: the TPC-H-shape scans read one ~10 MB
# parquet file each — an 8 MB split parallelizes the scan across local
# cores (halves q1/q3/q5 measured warm), while the default 128 MB stays
# right for every other query (and for real TB-scale inputs).
QUERY_CONF = {
    "q1_pricing_summary": {"spark.sql.files.maxPartitionBytes": "8m"},
    "q3_shipping_priority": {"spark.sql.files.maxPartitionBytes": "8m"},
    "q5_region_revenue": {"spark.sql.files.maxPartitionBytes": "8m"},
    "join_broadcast_brand_stats": {"spark.sql.files.maxPartitionBytes": "8m"},
    # The two heaviest ANN trainings plan ~70-285 TINY exchanges
    # (codebook/LUT/probe broadcasts, quantized aggregates with
    # predictable uniform-key sizes). AQE materializes each as its
    # own job — pure per-job scheduling latency on this shape, with
    # nothing for AQE to re-plan (no skew, no surprise sizes).
    # Measured at sf0.1: ann_recall_at_k 100 jobs/21s -> 28 jobs/15s;
    # ann_ivfpq_residual_topk 73 jobs/12.3s -> 20 jobs/8.3s. The
    # other ANN queries keep AQE (neutral or better there).
    "ann_recall_at_k": {"spark.sql.adaptive.enabled": "false"},
    "ann_ivfpq_residual_topk": {"spark.sql.adaptive.enabled": "false"},
}


def audited_exclusions() -> dict:
    """{name: 'class:sibling-or-'} for every EXCLUDED_REASONS entry, so
    the record states what was not benched and why."""
    return {
        name: f"{cls}:{sib}" if sib else cls
        for name, (cls, sib) in sorted(EXCLUDED_REASONS.items())
    }


def sample_excluded(spark, sf_dir: str) -> dict:
    """Empirically validate a rotating ~10 of the EXCLUDED_REASONS
    entries each round (r10 verdict item 5): one timed end-to-end run
    apiece, so every exclusion class carries measured evidence (a
    'trivial' entry should cost a fraction of its benched sibling; a
    'streaming' entry's time is checkpoint setup, not operator work).
    The rotation chunk defaults to the count of committed BENCH_r
    records (one per round) so successive rounds sample successive
    chunks without manual state; override with
    $SPARK_GRAFT_EXCL_CHUNK."""
    import glob

    registry = queries()
    names = sorted(EXCLUDED_REASONS)
    here = os.path.dirname(os.path.abspath(__file__))
    default_chunk = len(glob.glob(os.path.join(here, "BENCH_r[0-9][0-9].json")))
    chunk = int(os.environ.get("SPARK_GRAFT_EXCL_CHUNK", default_chunk))
    n_chunks = max(1, (len(names) + 9) // 10)
    start = (chunk % n_chunks) * 10
    sampled = names[start : start + 10]
    # every round additionally samples ONE rotating `streaming`-class
    # exclusion (r11 verdict item 4): the class rationale ("the
    # AvailableNow drain's time is checkpoint setup, not operator
    # work") gets measured evidence each round, exactly like the
    # trivial class — not only when the alphabetical chunk happens to
    # reach the streaming_* block
    streaming = [n for n in names if EXCLUDED_REASONS[n][0] == "streaming"]
    if streaming and not any(n in streaming for n in sampled):
        sampled = sampled + [streaming[chunk % len(streaming)]]
    out = {}
    for name in sampled:
        cls, sib = EXCLUDED_REASONS[name]
        # cold-ish sample, matching the headline protocol: persisted
        # intermediates left by earlier headline runs (cents/assigned/
        # brute shortlists) must not deflate the sampled time
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        force(registry[name](spark, sf_dir))
        out[name] = {
            "sec": round(time.perf_counter() - t0, 3),
            "class": f"{cls}:{sib}" if sib else cls,
        }
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # Note on split sizing: 4 MB maxPartitionBytes parallelizes the
    # single-file sf0.1 scans and speeds up warmed-up Q1 ~2x in
    # isolation, but measured end-to-end across the whole suite the
    # extra task-scheduling overhead costs more than it saves
    # (25.4s -> 27-29s total), so the default split size stays.
    # retainedJobs raised so the status tracker can still answer
    # getJobIdsForGroup for the FIRST queries after ~120 queries x 3
    # runs have executed (default retention is 1000 jobs)
    spark = mats.get_spark(
        app_name="mats-bench",
        extra_conf={"spark.ui.retainedJobs": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    timed = time_queries(spark, sf_dir, HEADLINE)
    times = timed["queries"]
    sched_probe_ms = timed["sched_probe_ms"]

    total = round(sum(times.values()), 3)
    # anchored comparison: same 14 queries recorded every round
    # since r01 (BASELINE.md) — compare THIS against 20.605
    r01_subset = round(sum(times[q] for q in R01_SUBSET if q in times), 3)
    # protocol: per-query min of 3 cache-cleared runs; spread =
    # max-min observed, so round-over-round diffs smaller than the
    # spread are box noise, not regressions
    spread = round(sum(timed["query_spread"].values()), 3)

    # Truncation-proofing (BENCH_r04 lost its headline `value` when the
    # 57-query line outgrew the driver's tail-capture window, which keeps
    # line ENDS): (a) the big per-query dicts come FIRST in the full
    # record so the headline scalars sit at the tail-survivable end, and
    # (b) a compact summary record is printed LAST so at least one fully
    # parseable JSON line always survives any front-truncation.
    excluded_sampled = sample_excluded(spark, sf_dir)

    full = {
        "metric": "headline_queries_total",
        "unit": "sec",
        "sf": sf,
        "protocol": "min-of-3, clearCache between runs",
        "excluded": audited_exclusions(),
        "queries": times,
        "query_spread": timed["query_spread"],
        "query_n_jobs": timed["query_n_jobs"],
        "excluded_sampled": excluded_sampled,
        "value_r01_subset": r01_subset,
        "spread": spread,
        "sched_probe_ms": sched_probe_ms,
        "value": total,
    }
    print(json.dumps(full))
    # Capture-safe per-query record (r12 verdict item 1): the driver's
    # tail capture keeps only the last few KB of output, so the big
    # single-line `full` record above loses its per-query map to
    # front-truncation. Re-emit the SAME per-query seconds as chunked
    # JSON lines (each < 1 KB, independently parseable, additive — the
    # full record and the compact summary are unchanged), ordered by
    # ASCENDING cost so the most expensive queries sit in the LAST
    # chunks, nearest the guaranteed-surviving end of the stream:
    # whatever suffix of the output survives the driver's window
    # always covers the heaviest (comparison-relevant) queries.
    chunk_items = sorted(times.items(), key=lambda kv: (kv[1], kv[0]))
    chunks: list[dict] = []
    cur: dict[str, float] = {}
    for qname, qsec in chunk_items:
        cur[qname] = qsec
        if len(json.dumps({"queries": cur})) > 820:
            chunks.append(cur)
            cur = {}
    if cur:
        chunks.append(cur)
    for i, ch in enumerate(chunks):
        print(json.dumps({
            "metric": "headline_queries_chunk",
            "part": i + 1,
            "parts": len(chunks),
            "sf": sf,
            "queries": ch,
        }))
    # the compact record prints LAST so it survives any
    # front-truncation of the driver's tail capture — it carries the
    # r01-anchored per-query seconds (r10 verdict item 6) so
    # cross-round per-query comparisons never depend on the big
    # first line surviving
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "value_r01_subset": r01_subset,
        "queries_r01_subset": {
            q: times[q] for q in R01_SUBSET if q in times
        },
        "spread": spread,
        "sched_probe_ms": sched_probe_ms,
        "n_queries": len(times),
    }
    print(json.dumps(compact))


def time_queries(spark, sf_dir: str, names) -> dict:
    """Warm up, probe the scheduler, then time each named HEADLINE
    query as the min of three cache-cleared runs with its QUERY_CONF
    overrides. Returns the per-query seconds, spreads and Spark job
    counts plus the probe's median, keyed as in the bench record."""
    # warmup: JIT/codegen + file listing + whole-stage-codegen compile
    # for an agg-shaped plan, not measured
    force(R.a1_count_star(spark, sf_dir))
    force(R.q1_pricing_summary(spark, sf_dir))

    # environment probe recorded WITH the numbers: median wall time of
    # a trivial 1-partition SQL count job. A healthy local-mode JVM
    # schedules this in ~10-30 ms; this box has been observed at
    # 50-150 ms (PLANS.md bench-environment note), which inflates
    # every stage/job-count-heavy query by (jobs x this latency)
    # while leaving data-path queries untouched — read cross-round
    # per-query deltas against this number.
    probes = []
    for _ in range(9):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).count()
        probes.append(time.perf_counter() - t0)
    sched_probe_ms = round(sorted(probes)[len(probes) // 2] * 1000, 1)

    times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    n_jobs: dict[str, int] = {}
    sc = spark.sparkContext
    for name in names:
        fn = HEADLINE[name]
        overrides = QUERY_CONF.get(name, {})
        saved = {k: spark.conf.get(k) for k in overrides}
        for k, v in overrides.items():
            spark.conf.set(k, v)
        try:
            # min of three runs: steady-state time, robust to
            # background load spikes on a shared box (single runs
            # varied +/-20%, ~+/-1.5s on the suite total).
            # clearCache between runs so operators that persist
            # intermediates don't get a free warm-cache second run.
            runs, run_jobs = [], []
            for i in range(3):
                spark.catalog.clearCache()
                # one job group per run: the status tracker then
                # yields this run's Spark JOB COUNT, so cross-round
                # per-query deltas can be corrected to
                # wall - n_jobs x sched_probe (scheduler-latency
                # adjudication by arithmetic, not argument). Jobs
                # launched from OTHER threads (streaming drains)
                # don't inherit the group and undercount — none of
                # the headline queries are streaming.
                group = f"{name}#run{i}"
                sc.setJobGroup(group, name)
                t0 = time.perf_counter()
                force(fn(spark, sf_dir))
                runs.append(time.perf_counter() - t0)
                run_jobs.append(
                    len(sc.statusTracker().getJobIdsForGroup(group))
                )
            best = min(range(len(runs)), key=runs.__getitem__)
            times[name] = round(runs[best], 3)
            spreads[name] = round(max(runs) - min(runs), 3)
            n_jobs[name] = run_jobs[best]
        finally:
            sc.setJobGroup("", "")
            for k, v in saved.items():
                spark.conf.set(k, v)

    return {
        "queries": times,
        "query_spread": spreads,
        "query_n_jobs": n_jobs,
        "sched_probe_ms": sched_probe_ms,
    }


if __name__ == "__main__":
    main()
