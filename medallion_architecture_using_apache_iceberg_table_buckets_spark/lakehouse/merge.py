"""MERGE INTO — file-scoped upsert, copy-on-write or merge-on-read.

Engine equivalent of the reference's
``MERGE INTO target USING source ON target.invoiceid =
source.invoiceid WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
INSERT *`` (template scripts/bronze-silver.py:254-269, executed
:213), the only join in the reference (SURVEY.md §2.3 J1). Also
supports CDC deletes (``Op='D'`` — implied by the DMS convention the
fixtures use, FIXTURES.md §1).

Execution strategy (what Iceberg's RowLevelCommand does, built from
DataFrame ops so Catalyst owns the physical plan):

1. *Touched-file discovery*: semi-join target(key, _file) against the
   distinct source keys; only data files that actually contain a
   matched key are rewritten. The scan is column-pruned to the key,
   and at 100 TB this is the difference between rewriting a handful
   of files and rewriting the table.
2. *Rewrite* (copy-on-write, the default): rows of touched files
   anti-joined against source keys (drop matched rows) unioned with
   the source's upsert rows (update + insert in one pass). Untouched
   files are carried over in the manifest unchanged.
   *Position deletes* (``write.merge.mode = merge-on-read``, the
   reference sets it at scripts/bronze-silver.py:179-194): the
   matched rows of touched files are position-deleted and the upsert
   rows appended as new files, in one ``merge`` snapshot — no data
   file is rewritten, and reads drop the deleted rows until a
   compaction materializes them (Iceberg's Spark MERGE in
   merge-on-read mode writes the same).
3. The deduped source key set is broadcast to both joins (the CDC
   case: a micro-batch of changed keys vs a huge target).

The caller is responsible for source dedup (one row per key) — the
pipeline layer does keep-latest-per-key first (W1), matching the
reference's dedup-then-merge order (scripts/bronze-silver.py:258-266).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .table import Snapshot, Table
from .transforms import parse_spec, partition_segment

# Upper bound on distinct partition-key values collected for discovery
# pruning; beyond this the merge falls back to an unpruned discovery
# scan (correct, just less surgical).
PRUNE_MAX_VALUES = 1024


def _project_to(df: DataFrame, table: Table) -> DataFrame:
    """Project source columns onto the target schema (MERGE binds by name).

    Mirrors the reference behavior where the silver schema excludes
    bronze-only columns (`Op`, `input_file`, ...) — the merge writes
    only the declared columns (SURVEY.md §7.4).
    """
    schema = table.schema
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def merge_into(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    on: str | list[str],
    delete_predicate: str | None = None,
) -> Snapshot:
    """Upsert `source` into `table` on key columns `on`.

    WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT * semantics;
    rows satisfying `delete_predicate` (evaluated against the raw
    source, e.g. ``"Op = 'D'"``) instead delete their matched target
    rows and are not inserted.

    The deduped source key set is broadcast to the touched-file
    discovery and rewrite joins — the right call for CDC micro-batches
    (small source vs huge target), and it avoids a probing job.
    """
    keys = [on] if isinstance(on, str) else list(on)

    if delete_predicate is not None:
        deletes = source.filter(F.expr(delete_predicate))
        upserts = source.filter(~F.expr(delete_predicate))
    else:
        deletes = None
        upserts = source

    upsert_rows = _project_to(upserts, table)
    all_keys = upserts.select(*keys)
    if deletes is not None:
        all_keys = all_keys.unionByName(deletes.select(*keys))
    all_keys = all_keys.distinct()

    snap = table.current_snapshot()
    if not snap.files:
        # Empty target: MERGE degenerates to INSERT *.
        return table.replace_files([], upsert_rows, operation="merge")

    all_keys = F.broadcast(all_keys)

    # 0. partition pruning for the discovery scan: when a partition
    # transform is a function of the merge keys alone (identity or
    # bucket(N, key)), every matched target row must live in a
    # partition derived from some source key — so discovery only
    # scans those directories. Key-independent transforms (e.g.
    # days(event_ts)) are never pruned: an update may move the row
    # across those partitions.
    candidate_files = list(snap.files)
    prunable = [t for t in parse_spec(table.partition_by) if t.col in keys]
    if prunable:
        # The distinct partition values come to the driver; cap the
        # haul so an unbounded-cardinality key (e.g. identity
        # partition on the merge key itself) degrades to no pruning
        # instead of collecting millions of rows.
        vals = (
            all_keys.select(
                *[
                    t.expr(all_keys.schema[t.col].dataType).alias(t.partition_col)
                    for t in prunable
                ]
            )
            .distinct()
            .limit(PRUNE_MAX_VALUES + 1)
            .collect()
        )
        if len(vals) > PRUNE_MAX_VALUES:
            vals = []
        # On-disk segments are escapePathName()-encoded by the
        # partitioned writer; partition_segment reproduces that
        # encoding and returns None for values whose written form is
        # not reproducible (null/empty -> default partition, floats,
        # sub-second timestamps) — any None disables pruning rather
        # than risk dropping the file that holds a matched row.
        allowed: dict[str, set[str]] = {}
        for t in prunable if vals else ():
            segs = {
                partition_segment(t.partition_col, row[t.partition_col])
                for row in vals
            }
            if None in segs:
                allowed = {}
                break
            allowed[t.partition_col] = segs
        if allowed:
            candidate_files = [
                f
                for f in candidate_files
                if all(
                    any(seg in f.split("/") for seg in segs)
                    for segs in allowed.values()
                )
            ]

    # 1. touched-file discovery (column-pruned scan of key + file path)
    touched_rel = table._files_matching(
        spark, snap, candidate_files, keys=all_keys
    )

    if not touched_rel:
        # Pure insert: no file rewrite at all, just new files.
        return table.replace_files([], upsert_rows, operation="merge")

    # 2. merge-on-read: position-delete the matched live rows of the
    # touched files and append the upserts, in one snapshot
    if snap.properties.get("write.merge.mode") == "merge-on-read":
        matched = table._read_live(
            spark, snap, touched_rel, keep_pos=True
        ).join(all_keys, keys, "left_semi")
        return table._commit_positions(snap, "merge", matched, upsert_rows)

    # 2. copy-on-write: rewrite only touched files (live view: any
    # position deletes on them are applied, else the rewrite would
    # resurrect rows)
    touched_df = table._read_live(spark, snap, touched_rel)
    kept = touched_df.join(all_keys, keys, "left_anti")
    rewritten = kept.unionByName(upsert_rows)
    return table.replace_files(touched_rel, rewritten, operation="merge")
