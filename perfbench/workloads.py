"""The benchmark's workloads: a plan built in set-up, a timed loop, a gate.

Every workload drives the package the way a user does: files land in
the raw directory and ``MedallionPipeline.run_once`` is called (the
single-writer scheduled job), or statements go through
``SqlSession.sql`` and their results are collected. One caller, closed
loop: each operation starts when the previous one has returned.

Set-up generates every input file from the seed into a staging
directory and builds the tables the timed phase starts from. Landing a
batch in the timed phase is a rename into the raw directory (the
generator already fixed its mtime). The expected result of every
statement is computed while the plan is built, from the generator's
truth at that point of the plan.

The plan starts with warm-up steps of the same kinds as the timed ones:
on ``cdc_trickle`` a batch and idle runs, on ``sql_reads`` a round of
statements and idle runs. Set-up runs them untimed, so the first timed
operation of each kind does not pay for class loading, code generation
and JIT compilation. Their results go through the same gate as the
timed ones.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from counters import storage_counters, table_version
from gen import Batch, CdcGenerator, Shape

NS = "sales"
BRONZE, SILVER = "bronze_orders", "silver_orders"
SILVER_COLS = (
    "replicadmstimestamp", "invoiceid", "itemid", "category", "price",
    "quantity", "orderdate", "destinationstate", "shippingtype", "referral",
)


@dataclass
class Step:
    kind: str  # batch | idle | stmt
    batch: Batch | None = None
    upserts: int = 0
    sql: str = ""
    cls: str = ""
    expect: object = None
    warm: bool = False  # run in set-up, untimed


@dataclass
class RunStats:
    op_s: list[float] = field(default_factory=list)
    op_cls: list[str] = field(default_factory=list)
    idle_s: list[float] = field(default_factory=list)
    # idle runs by the number of timed batches before them: one group
    # per history depth
    idle_groups: dict[int, list[float]] = field(default_factory=dict)
    batches: int = 0
    batch_rate: list[float] = field(default_factory=list)  # rows/s of each batch
    rows: int = 0
    files: int = 0
    csv_bytes: int = 0
    upserts: int = 0
    total_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    outputs: list = field(default_factory=list)


class Workload:
    """Base: the medallion pipeline over one warehouse under ``work``."""

    shape: Shape
    setup_batches = 0
    op_kind = "batch"  # the operation op_p50_s/op_p75_s are taken over

    def __init__(self, spark, work: Path, seed: int, seconds: int):
        from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import Catalog
        from medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline import MedallionPipeline
        from medallion_architecture_using_apache_iceberg_table_buckets_spark.schema import (
            avro_schema_to_spark_schema,
        )
        from test_medallion_golden import SILVER_AVRO

        self.spark, self.seconds = spark, seconds
        self.raw = work / "raw"
        self.raw.mkdir(parents=True)
        self.catalog = Catalog(work / "warehouse")
        # the reference layout: bronze by processed_date, silver by
        # destinationstate, inferred bronze schema, declared silver schema
        self.pipeline = MedallionPipeline(
            catalog=self.catalog,
            namespace=NS,
            input_path=str(self.raw),
            checkpoint_dir=work / "ckpt",
            silver_schema=avro_schema_to_spark_schema(SILVER_AVRO),
            silver_partition_by=("destinationstate",),
            delete_predicate="Op = 'D'",
        )
        self.gen = CdcGenerator(str(work / "staging"), seed, self.shape)
        self.bronze_rows = 0
        self.plan: list[Step] = []
        self.warm_outputs: list = []
        self.start_versions: dict[str, int] = {}

    def table_root(self, name: str) -> Path:
        return self.catalog.table_path(NS, name)

    def land(self, batch: Batch) -> None:
        os.rename(batch.path, self.raw / os.path.basename(batch.path))
        self.bronze_rows += batch.rows

    def new_batch(self) -> Step:
        b = self.gen.change_batch()
        # one row per key per batch: every non-delete row is an upsert
        return Step("batch", batch=b, upserts=b.rows - b.deletes)

    def setup(self) -> None:
        clock = time.perf_counter
        t0 = clock()
        for b in self.gen.initial_load():
            self.land(b)
        self.pipeline.run_once(self.spark)
        self.setup_phases = {"initial_load_s": clock() - t0}
        self.history = [self.snapshot_truth()]
        for _ in range(self.setup_batches):
            self.land(self.new_batch().batch)
            self.pipeline.run_once(self.spark)
            self.history.append(self.snapshot_truth())
        self.setup_phases["history_s"] = clock() - t0 - self.setup_phases["initial_load_s"]
        t1 = clock()
        self.build_plan()
        self.sess = self.sql_session()
        for step in self.plan:
            if step.warm:
                try:
                    self.warm_outputs.append(self.execute(step)[1])
                except Exception as e:  # reported by the gate
                    self.warm_outputs.append(e)
        self.setup_phases["warm_up_s"] = clock() - t1
        self.start_versions = {t: table_version(self.table_root(t)) for t in (BRONZE, SILVER)}

    def snapshot_truth(self) -> tuple[int, int]:
        """(silver version, expected silver rows) after the last run."""
        return table_version(self.table_root(SILVER)), len(self.gen.truth)

    # -- timed phase -----------------------------------------------------
    def run(self, tracer=None) -> RunStats:
        st = RunStats()
        clock = time.perf_counter
        t_start = clock()
        for i, step in enumerate(self.plan):
            if step.warm:
                continue
            st.attempted += 1
            try:
                dt, out = self.execute(step, tracer, i)
                if step.kind == "batch":
                    st.batches += 1
                    st.batch_rate.append(step.batch.rows / dt)
                    st.rows += step.batch.rows
                    st.files += out[0]["files_ingested"]
                    st.csv_bytes += step.batch.bytes
                    st.upserts += step.upserts
                elif step.kind == "idle":
                    st.idle_groups.setdefault(st.batches, []).append(dt)
                    st.idle_s.append(dt)
                if step.kind == self.op_kind:
                    st.op_s.append(dt)
                    st.op_cls.append(step.cls or step.kind)
                st.outputs.append(out)
            except Exception as e:  # one failed operation; the run goes on
                import traceback

                traceback.print_exc()
                st.failed += 1
                st.outputs.append(e)
        st.total_s = clock() - t_start
        return st

    def execute(self, step: Step, tracer=None, op_id: int = 0) -> tuple[float, object]:
        """Run one step; return its wall time and its output."""
        clock = time.perf_counter
        ctx = tracer.op(op_id, step.kind) if tracer else nullcontext()
        if step.kind == "batch":
            self.land(step.batch)
        with ctx:
            t0 = clock()
            if step.kind in ("batch", "idle"):
                out = self.pipeline.run_once(self.spark)
            else:
                df = self.sess.sql(step.sql)
                with tracer.span("sql.exec", group=True) if tracer else nullcontext():
                    out = [tuple(r) for r in df.collect()]
            dt = clock() - t0
        return dt, out

    def sql_session(self):
        from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.sql import (
            SqlSession,
        )

        return SqlSession(self.spark, self.catalog, NS)

    # -- figures after the timed phase -------------------------------------
    def storage(self) -> dict:
        return {t: storage_counters(self.table_root(t), self.start_versions[t])
                for t in (BRONZE, SILVER)}

    def metrics(self, st: RunStats, storage: dict) -> dict:
        """End-to-end metrics besides set-up, total time and memory."""
        p50, p75 = latency_summary(st.op_s)
        written = sum(t["bytes_written"] for t in storage.values())
        return {
            "op_p50_s": (p50, "s"),
            "op_p75_s": (p75, "s"),
            "rows_per_s": (statistics.median(st.batch_rate), "rows/s"),
            "write_amp": (written / st.csv_bytes, "ratio"),
        }

    def per_layer(self, tracer, work: Path, st: RunStats, storage: dict,
                  start_s: float, probe_ms: float, cores: int):
        from layers import per_layer

        return per_layer(tracer, work, st, storage, start_s, probe_ms, cores)

    # -- correctness gate (after the timed phase) -------------------------
    def check(self, st: RunStats, corrupt: bool = False) -> list[str]:
        bad = []
        for step, out in zip(self.plan, self.warm_outputs + st.outputs):
            if isinstance(out, Exception):
                bad.append(f"{step.kind} failed: {out!r}")
            elif step.kind == "batch" and [r.get("status") for r in out][1:] != ["merged"]:
                bad.append(f"batch run did not merge: {out}")
            elif step.kind == "idle" and (out[0]["files_ingested"], out[1]["status"]) != (0, "no_new_data"):
                bad.append(f"idle run found work: {out}")
            elif step.kind == "stmt" and not self.same(out, step.expect):
                bad.append(f"{step.sql!r}: got {out!r:.200}, expected {step.expect!r:.200}")
        bad += self.check_silver(corrupt)
        return bad

    @staticmethod
    def same(out, expect) -> bool:
        if isinstance(expect, set):
            return len(out) == len(expect) and set(out) == expect
        return out == expect

    def check_silver(self, corrupt: bool) -> list[str]:
        from pyspark.sql import functions as F

        truth = dict(self.gen.truth)
        if corrupt:  # negative control: a wrong winner must fail the gate
            k = next(iter(truth))
            truth[k] = truth[k][:3] + (truth[k][3] + "-corrupt",) + truth[k][4:]
        df = self.catalog.table(NS, SILVER).read(self.spark)
        rows = df.select(
            F.date_format("replicadmstimestamp", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            *[F.col(c).cast("string") for c in SILVER_COLS[1:4]],
            F.format_string("%.2f", "price"),
            *[F.col(c).cast("string") for c in SILVER_COLS[5:]],
        ).collect()
        got = {int(r[1]): tuple(r) for r in rows}
        bad = []
        if len(got) != len(rows):
            bad.append(f"silver has duplicate keys: {len(rows)} rows, {len(got)} keys")
        missing = truth.keys() - got.keys()
        extra = got.keys() - truth.keys()
        wrong = [k for k in truth.keys() & got.keys() if got[k] != truth[k]]
        for what, keys in (("missing", missing), ("deleted but present", extra), ("wrong version", wrong)):
            if keys:
                k = min(keys)
                bad.append(f"silver: {len(keys)} keys {what}, e.g. {k}: got {got.get(k)} expected {truth.get(k)}")
        bronze = self.catalog.table(NS, BRONZE).current_snapshot().summary["total_records"]
        if bronze != self.bronze_rows:
            bad.append(f"bronze holds {bronze} rows, {self.bronze_rows} landed")
        return bad


class CdcTrickle(Workload):
    """Mid-size initial load, then small skewed CDC batches, each
    followed by a burst of idle runs. The first batch and its burst are
    the warm-up."""

    shape = Shape(initial_rows=20_000, initial_files=1, batch_rows=2_000,
                  update_share=0.70, delete_share=0.05, recency_skew=4.0)
    # nominal seconds per batch on a 4-core box: sizes the plan
    batch_cost_s = 3.0
    min_batches = 3
    idle_runs = 5

    def build_plan(self) -> None:
        n = max(self.min_batches, round(self.seconds / self.batch_cost_s))
        for i in range(n + 1):
            step = self.new_batch()
            step.warm = i == 0
            self.plan += [step, *(Step("idle", warm=i == 0) for _ in range(self.idle_runs))]


class BulkLoad(CdcTrickle):
    """Large initial load (set-up), then large batches: half updates of
    existing keys (uniform), half new keys."""

    shape = Shape(initial_rows=160_000, initial_files=4, batch_rows=80_000,
                  update_share=0.5, delete_share=0.0, recency_skew=1.0)
    batch_cost_s = 5.0


class SqlReads(Workload):
    """Seeded rounds of the reference's statements over bronze, silver
    and their history. A trickle batch comes before every timed round,
    so reads see the tables grow, and the scheduled pipeline finds
    nothing new after every statement."""

    shape = CdcTrickle.shape
    op_kind = "stmt"
    setup_batches = 1
    # nominal seconds per round of ten statements and the batch before it
    round_cost_s = 8.0

    def build_plan(self) -> None:
        import random

        rng = random.Random(self.gen.seed * 7919 + 1)
        silver_commits = len(self.history) + 1  # create + one merge per run
        # round 0 is the warm-up
        n_rounds = max(2, round(self.seconds / self.round_cost_s))
        bronze_rows = self.bronze_rows
        for r in range(n_rounds + 1):
            if r > 0:
                step = self.new_batch()
                bronze_rows += step.batch.rows
                silver_commits += 1
                self.plan.append(step)
            truth = self.gen.truth
            live = rng.choice(list(truth))
            agg: dict[str, list[int]] = {}
            for row in truth.values():
                a = agg.setdefault(row[7], [0, 0])
                a[0] += 1
                a[1] += int(row[5])
            version, n_at = rng.choice(self.history)
            cols = ", ".join(SILVER_COLS)
            stmts = [
                ("catalog", "SHOW NAMESPACES", [(NS,)]),
                ("catalog", f"USE {NS}", []),
                ("catalog", "SHOW TABLES", [(NS, BRONZE, False), (NS, SILVER, False)]),
                ("count", f"SELECT COUNT(*) FROM {SILVER}", [(len(truth),)]),
                ("count", f"SELECT COUNT(*) FROM {BRONZE}", [(bronze_rows,)]),
                ("point", f"SELECT {cols} FROM {SILVER} WHERE invoiceid = {live}",
                 [self.typed(truth[live])]),
                ("point", f"SELECT {cols} FROM {SILVER} WHERE invoiceid = -{r + 1}", []),
                ("agg", f"SELECT destinationstate, COUNT(*) AS n, SUM(quantity) AS q "
                        f"FROM {SILVER} GROUP BY destinationstate",
                 {(s, n, q) for s, (n, q) in agg.items()}),
                ("history", f"SELECT COUNT(*) FROM {SILVER}.history", [(silver_commits,)]),
                ("time_travel", f"SELECT COUNT(*) FROM {SILVER} VERSION AS OF {version}", [(n_at,)]),
            ]
            rng.shuffle(stmts)
            # USE first: the bare names below resolve in the namespace
            stmts.sort(key=lambda s: not s[1].startswith("USE"))
            # round 0 is the warm-up; the set-up batch warmed the batch path
            for c, q, e in stmts:
                self.plan += [Step("stmt", sql=q, cls=c, expect=e, warm=r == 0),
                              Step("idle", warm=r == 0)]

    @staticmethod
    def typed(row: tuple) -> tuple:
        """A generator row as Spark returns it under the silver schema."""
        from datetime import date, datetime

        return (
            datetime.strptime(row[0], "%Y-%m-%d %H:%M:%S.%f"),
            int(row[1]), int(row[2]), row[3], float(row[4]), int(row[5]),
            date.fromisoformat(row[6]), row[7], row[8], row[9],
        )


WORKLOADS = {"cdc_trickle": CdcTrickle, "bulk_load": BulkLoad, "sql_reads": SqlReads}


def idle_run_s(groups) -> float:
    """Mean over the history depths of the median idle run at each.

    An idle run costs more as history grows, so a median over all idle
    runs would jump between depths from run to run."""
    return statistics.fmean(statistics.median(g) for g in groups)


def latency_summary(samples: list[float]) -> tuple[float, float]:
    """(median, 75th percentile).

    The percentile interpolates over the samples' range (the inclusive
    method). Of eight batches, the exclusive method puts it three
    quarters of the way from the 6th to the 7th, next to the second
    slowest; the inclusive method a quarter of the way."""
    return statistics.median(samples), statistics.quantiles(samples, n=4, method="inclusive")[2]
