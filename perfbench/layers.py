"""Per-layer metrics of a traced run.

Layer = module of the package. Times come from the spans (inclusive
``*_s``, and ``*.self_s`` = inclusive minus child spans); job counts
from the Spark event log, a job counting toward every span on the
path from its tagged span up to the operation; storage figures from
the manifests. Every metric is reported on every pipeline workload, 0
where the workload does not reach the layer. ``per_query`` serves
operator_mix, whose layer is the query itself.
"""

from __future__ import annotations

from pathlib import Path

from counters import SPARK_KEYS, job_counters, read_event_log
from workloads import idle_run_s

SQL_CLASSES = ("catalog", "count", "point", "agg", "history", "time_travel")


def _spark_by_span(tracer, work: Path, cores: int):
    """(inclusive counters per span name, per-op counters, totals)."""
    (log,) = (work / "eventlog").iterdir()
    groups = job_counters(*read_event_log(log), cores)
    by_name: dict[str, dict] = {}
    by_op: dict[int, dict] = {}
    total = dict.fromkeys(SPARK_KEYS, 0)
    for gid, c in groups.items():
        if not (gid or "").startswith("span"):
            continue  # set-up and gate jobs
        chain = list(tracer.ancestors(int(gid[4:])))
        targets = [by_name.setdefault(n, dict.fromkeys(SPARK_KEYS, 0))
                   for n in {tracer.spans[i].name for i in chain}]
        targets.append(by_op.setdefault(chain[-1], dict.fromkeys(SPARK_KEYS, 0)))
        targets.append(total)
        for t in targets:
            for k in SPARK_KEYS:
                t[k] += c[k]
    return by_name, by_op, total


def _common(tracer, spark_total: dict, start_s: float, probe_ms: float) -> tuple[dict, dict]:
    """(session metrics, Spark and tracing metrics)."""
    session = {
        "session.start_s": (start_s, "s"),
        "session.sched_probe_ms": (probe_ms, "ms"),
    }
    below = {
        **{f"spark.{k}": (v, "s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count")
           for k, v in spark_total.items()},
        "trace.spans": (len(tracer.spans), "count"),
        "trace.overhead_s": (tracer.overhead_s, "s"),
    }
    return session, below


def _ops_detail(tracer, spans: dict, spark_by: dict, spark_ops: dict) -> dict:
    ops = [
        {"op": tracer.spans[i].op, "kind": tracer.spans[i].name,
         "s": tracer.spans[i].end - tracer.spans[i].start, **c}
        for i, c in sorted(spark_ops.items())
    ]
    return {"span_summary": spans, "spark_by_span": spark_by, "spark_by_op": ops}


def per_query(tracer, work: Path, start_s: float, probe_ms: float,
              cores: int) -> tuple[dict, dict]:
    """``op.<query>_s`` and ``op.<query>_jobs`` for each query."""
    spans = tracer.by_name()
    spark_by, spark_ops, spark_total = _spark_by_span(tracer, work, cores)
    session, below = _common(tracer, spark_total, start_s, probe_ms)
    m = dict(session)
    for name, d in sorted(spans.items()):
        if name.startswith("op."):
            m[f"{name}_s"] = (d["s"], "s")
            m[f"{name}_jobs"] = (spark_by.get(name, {}).get("jobs", 0), "count")
    m.update(below)
    return m, _ops_detail(tracer, spans, spark_by, spark_ops)


def per_layer(tracer, work: Path, st, storage: dict, start_s: float,
              probe_ms: float, cores: int) -> tuple[dict, dict]:
    spans = tracer.by_name()
    spark_by, spark_ops, spark_total = _spark_by_span(tracer, work, cores)
    session, below = _common(tracer, spark_total, start_s, probe_ms)

    def s(name, key="s"):
        return spans.get(name, {}).get(key, 0.0)

    def calls(name):
        return spans.get(name, {}).get("calls", 0)

    def jobs(*names):
        return sum(spark_by.get(n, {}).get("jobs", 0) for n in names)

    bronze, silver = storage["bronze_orders"], storage["silver_orders"]
    both = (bronze, silver)
    commits_in_run = sum(t["commits_in_run"] for t in both)
    table_names = [n for n in spans if n.startswith("table.")]
    by_cls = {c: 0.0 for c in SQL_CLASSES}
    for cls, dt in zip(st.op_cls, st.op_s):
        if cls in by_cls:
            by_cls[cls] += dt

    m = {
        **session,
        "pipeline.run_once_s": (s("pipeline.run_once"), "s"),
        "pipeline.self_s": (s("pipeline.run_once", "self_s"), "s"),
        "pipeline.idle_run_s": (
            idle_run_s(st.idle_groups.values()) if st.idle_groups else 0.0, "s"),
        "ingest.step_s": (s("ingest.step"), "s"),
        "ingest.self_s": (s("ingest.step", "self_s"), "s"),
        "ingest.list_s": (s("ingest.list"), "s"),
        "ingest.read_csv_s": (s("ingest.read_csv"), "s"),
        "ingest.jobs": (jobs("ingest.step"), "count"),
        "ingest.files": (st.files, "count"),
        "ingest.rows": (st.rows, "count"),
        "cdc.step_s": (s("cdc.step"), "s"),
        "cdc.self_s": (s("cdc.step", "self_s"), "s"),
        "cdc.jobs": (jobs("cdc.step"), "count"),
        "merge.s": (s("merge"), "s"),
        "merge.self_s": (s("merge", "self_s"), "s"),
        "merge.jobs": (jobs("merge"), "count"),
        "merge.files_rewritten_ratio": (
            silver["removed_files"] / silver["parent_live_files"]
            if silver["parent_live_files"] else 0.0, "ratio"),
        "merge.rows_rewritten_per_upsert": (
            silver["added_records"] / st.upserts if st.upserts else 0.0, "ratio"),
        "table.append_s": (s("table.append"), "s"),
        "table.replace_files_s": (s("table.replace_files"), "s"),
        "table.read_incremental_s": (s("table.read_incremental"), "s"),
        "table.snapshots_calls": (calls("table.snapshots"), "count"),
        "table.snapshots_s": (s("table.snapshots"), "s"),
        "table.current_snapshot_calls": (calls("table.current_snapshot"), "count"),
        "table.current_snapshot_s": (s("table.current_snapshot"), "s"),
        "table.self_s": (sum(s(n, "self_s") for n in table_names), "s"),
        "table.commits": (sum(t["commits"] for t in both), "count"),
        "table.live_files": (sum(t["live_files"] for t in both), "count"),
        "table.manifest_bytes": (sum(t["manifest_bytes"] for t in both), "bytes"),
        "table.added_files_per_commit": (
            sum(t["added_files"] for t in both) / commits_in_run if commits_in_run else 0.0,
            "count"),
        "table.removed_files_per_commit": (
            sum(t["removed_files"] for t in both) / commits_in_run if commits_in_run else 0.0,
            "count"),
        "table.bytes_written": (sum(t["bytes_written"] for t in both), "bytes"),
        "sql.dispatch_s": (s("sql.dispatch"), "s"),
        "sql.exec_s": (s("sql.exec"), "s"),
        "sql.jobs": (jobs("sql.dispatch", "sql.exec"), "count"),
        **{f"sql.{c}_s": (v, "s") for c, v in by_cls.items()},
        **below,
    }
    return m, _ops_detail(tracer, spans, spark_by, spark_ops)
