"""Benchmark of the medallion lakehouse engine: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 15 --trace 0

Prints a full record (environment fingerprint, sample counts, storage
counters; with ``--trace 1`` also per-layer figures and span summary)
as one JSON line prefixed ``record``, then, as the last line, the
result: ``{"correct", "attempted", "failed", "metrics"}``. The metrics
are the end-to-end metrics of BENCHMARK.json with ``--trace 0`` and
its per-layer metrics with ``--trace 1``. Exits 1 when the
correctness gate fails, 2 when it cannot run at all.

Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (span traces) in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
PKG = "medallion_architecture_using_apache_iceberg_table_buckets_spark"
# Driver heap, fixed in both directions (SPARK_DRIVER_MEMORY and -Xms)
# and touched in full at start. With a growable heap the JVM's resident
# peak followed G1's sizing heuristics and varied by up to 2x between
# identical runs; with a fixed but untouched heap it still followed how
# much of the heap a run happened to reach before its first collection.
HEAP = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=25,
                   help="sizes the timed phase: about this long on a 4-core box")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt-truth", action="store_true",
                   help="negative control: corrupt the expected results before the gate")
    p.add_argument("--sf-dir", help="input tables of operator_mix, which BENCHMARK.json does not list")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / PKG / "__init__.py").is_file() or not (
        root / "tests" / "test_medallion_golden.py"
    ).is_file():
        print(f"perfbench: {root} holds no {PKG} package and tests; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(root), str(root / "tests"), str(root / "tools")]
    nproc = len(os.sched_getaffinity(0))
    work = root / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    # One process at local[nproc]. Temp files and Spark scratch stay in
    # the run's own directory; Python and the JVM share one time zone.
    # Set before the package is imported: it reads SPARK_GRAFT_CPUS at
    # import time for its default shuffle partition count.
    os.environ.update(
        SPARK_DRIVER_MEMORY=HEAP,
        TZ="UTC",
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_CPUS=str(nproc),
    )
    time.tzset()
    from workloads import WORKLOADS

    names = sorted(WORKLOADS) + ["operator_mix"]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {names}",
              file=sys.stderr)
        return 2
    if (args.workload == "operator_mix") != bool(args.sf_dir):
        print("perfbench: --sf-dir is required by operator_mix and only by it",
              file=sys.stderr)
        return 2
    (work / "tmp").mkdir(parents=True)
    try:
        return run(args, root, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# -- session ---------------------------------------------------------------
def start_spark(work: Path, trace: bool):
    import medallion_architecture_using_apache_iceberg_table_buckets_spark as mats

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no web UI: the traced run reads its Spark counters from the event log
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        # no hsperfdata file: HotSpot writes it to /tmp whatever the tmpdir
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = mats.get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def sched_probe_ms(spark, n: int = 9) -> float:
    """Median wall time of a trivial 1-partition job (bench.py's probe)."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).count()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1000


def memory_mb(spark) -> dict:
    """Peak resident memory of this Python process and of the JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return {
        "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "jvm": hwm_kb / 1024,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def environment(spark, nproc: int, probe_ms: float) -> dict:
    import pyarrow

    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "sched_probe_ms": round(probe_ms, 3),
    }


# -- one run ---------------------------------------------------------------
def make_workload(args, spark, work: Path):
    if args.workload == "operator_mix":
        from operator_mix import OperatorMix

        return OperatorMix(spark, args.seed, args.sf_dir)
    from workloads import WORKLOADS

    return WORKLOADS[args.workload](spark, work, args.seed, args.seconds)


def run(args, root: Path, work: Path, nproc: int) -> int:
    from spans import Tracer

    clock = time.perf_counter
    t0 = clock()
    spark = start_spark(work, bool(args.trace))
    try:
        probe = sched_probe_ms(spark)  # also the warm-up of job scheduling
        start_s = clock() - t0
        wl = make_workload(args, spark, work)
        wl.setup()
        setup_s = clock() - t0
        tracer = Tracer(spark.sparkContext) if args.trace else None
        if tracer:
            tracer.install(PKG)
        try:
            st = wl.run(tracer)
        finally:
            if tracer:
                tracer.uninstall()
        mem = memory_mb(spark)
        env = environment(spark, nproc, probe)
        problems = wl.check(st, corrupt=args.corrupt_truth)
        storage = wl.storage()
    finally:
        stop_spark(spark)

    e2e = {
        "setup_s": (setup_s, "s"),
        "total_s": (st.total_s, "s"),
        **wl.metrics(st, storage),
        "peak_rss_mb": (mem["python"] + mem["jvm"], "MB"),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        # every end-to-end metric with its unit, and two that BENCHMARK.json
        # leaves out: error_rate is 0 on a healthy run, and idle_run_s
        # follows the box's scheduling too closely for a bound
        "end_to_end": {
            k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **record_only(st)}.items()
        },
        "samples": {"ops": len(st.op_s), "idle_runs": len(st.idle_s)},
        "op_s": st.op_s,
        "idle_s": st.idle_s,
        "idle_groups": [len(g) for g in st.idle_groups.values()],
        "op_s_by_class": _by_class(st),
        "storage": storage,
        "start_s": start_s,
        "setup_phases": getattr(wl, "setup_phases", {}),
        "memory_mb": mem,
        "gate_problems": problems[:20],
    }
    if "op_p75_s" in e2e:
        record["samples"]["above_p75"] = sum(x > e2e["op_p75_s"][0] for x in st.op_s)
    if tracer:
        metrics, detail = wl.per_layer(tracer, work, st, storage, start_s, probe, nproc)
        record["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        out = root / ".perfbench_out"
        out.mkdir(exist_ok=True)
        trace_path = out / f"trace-{args.workload}-s{args.seed}.json"
        trace_path.write_text(json.dumps(
            {"record": record, "spans": tracer.records(), **detail}, default=str))
        record["trace_file"] = str(trace_path.relative_to(root))
    else:
        metrics = e2e
    for p in problems[:20]:
        print(f"perfbench: gate: {p}", file=sys.stderr)
    print("record " + json.dumps(record, default=str))
    print(json.dumps({
        "correct": not problems,
        "attempted": st.attempted,
        "failed": st.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not problems else 1


def record_only(st) -> dict:
    from workloads import idle_run_s

    out = {"error_rate": (st.failed / st.attempted, "ratio")}
    if st.idle_groups:
        out["idle_run_s"] = (idle_run_s(st.idle_groups.values()), "s")
    return out


def _by_class(st) -> dict:
    out: dict[str, list[float]] = {}
    for cls, dt in zip(st.op_cls, st.op_s):
        out.setdefault(cls, []).append(dt)
    return {c: {"n": len(v), "sum_s": sum(v), "median_s": statistics.median(v)}
            for c, v in out.items()}


if __name__ == "__main__":
    sys.exit(main())
