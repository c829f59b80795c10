"""Streaming data-quality monitoring: evaluate declared constraint
checks on every micro-batch and append the per-batch report to a
lakehouse metrics table — the continuous form of
``operators/quality.py`` (what Delta Live Tables calls expectations).

Per batch the row predicates still fuse into ONE aggregation over the
micro-batch (adding checks never adds per-batch scans), and the
metrics append is a handful of rows — the monitor's cost is O(batch
bytes) however many checks are declared. ``fail_on`` turns a named
check into a hard expectation: a violating batch raises inside
foreachBatch, the streaming query errors out, and — because the
metrics append runs BEFORE the gate — the failure is itself recorded
with exactly which check tripped.
"""

from __future__ import annotations

from pathlib import Path
from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lakehouse import Catalog
from ..operators.quality import constraint_report, row_violations
from ..session import local_frame

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType()),
        T.StructField("check", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_violations", T.LongType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


class ExpectationFailed(RuntimeError):
    """A ``fail_on`` check reported violations in a micro-batch."""


def monitor_stream(
    stream_df: DataFrame,
    checks: Mapping[str, Column],
    catalog: Catalog,
    namespace: str,
    metrics_table: str,
    checkpoint_dir: str | Path,
    fail_on: Sequence[str] = (),
    sink: Callable[[DataFrame, int], None] | None = None,
) -> int:
    """Drain the stream (availableNow), appending one metrics row per
    (micro-batch, check) to ``metrics_table``; returns the number of
    batches. ``checks`` maps check name -> violated-when-true Column
    (the row_violations contract). ``sink`` optionally receives each
    (validated) batch afterwards — metrics and gate run first, so a
    poisoned batch never reaches it when its check is in ``fail_on``.
    """
    spark = stream_df.sparkSession
    batches = {"n": 0}
    failing = set(fail_on)
    unknown = failing - set(checks)
    if unknown:
        raise ValueError(f"fail_on names unknown checks: {sorted(unknown)}")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        n_rows = batch_df.count()
        rep = constraint_report([row_violations(batch_df, dict(checks))])
        rows = [
            (batch_id, r["check"], r["kind"], n_rows, r["n_violations"], r["ok"])
            for r in rep.collect()
        ]
        catalog.write(
            namespace, metrics_table, local_frame(spark, rows, METRICS_SCHEMA)
        )
        tripped = [r for r in rows if not r[5] and r[1] in failing]
        if tripped:
            names = ", ".join(f"{r[1]} ({r[4]} rows)" for r in tripped)
            raise ExpectationFailed(
                f"batch {batch_id} violated hard expectations: {names}"
            )
        if sink is not None:
            sink(batch_df, batch_id)
        batches["n"] += 1

    q = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except Exception as e:  # surface the expectation, not the wrapper
        cause = str(e)
        if "ExpectationFailed" in cause or "violated hard expectations" in cause:
            raise ExpectationFailed(cause) from None
        raise
    return batches["n"]
