"""Incremental view maintenance (IVM) for JOIN marts.

The join complement of pipeline/gold.py's additive aggregate folds:
a materialized inner-join view over two APPEND-ONLY tables refreshes
by the delta-join identity

    (O ∪ dO) JOIN (C ∪ dC)
  =  O JOIN C            -- the mart's current contents
  ∪  dO JOIN (C ∪ dC)    -- new left rows against the FULL right
  ∪  O  JOIN dC          -- old left rows against the new right rows

— two keyed joins whose left inputs are DELTA-sized, appended to the
mart (the two delta terms are disjoint by construction: one carries
only new-left rows, the other only old-left rows). Cost per refresh
is O(|dO| + |dC|) probe work instead of re-joining the tables — the
standard IVM move for append-only facts/dims at scale.

Falls back to a full rebuild when either side's snapshot range
crosses a non-append commit (same contract as read_incremental).
State (each side's last-folded snapshot id) lives in the mart's own
properties, so the view is self-describing.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..lakehouse import Catalog

LEFT_SNAP_PROP = "ivm.left-snapshot"
RIGHT_SNAP_PROP = "ivm.right-snapshot"


def refresh_join_view(
    spark: SparkSession,
    catalog: Catalog,
    namespace: str,
    left_table: str,
    right_table: str,
    view_table: str,
    on: Sequence[str],
    select: Sequence[str] | None = None,
) -> dict:
    """Create/refresh the materialized inner-join view
    ``left JOIN right ON on``. ``select`` optionally projects the
    joined columns (default: all, join keys once)."""
    left = catalog.table(namespace, left_table)
    right = catalog.table(namespace, right_table)
    l_snap, r_snap = left.latest_snapshot_id(), right.latest_snapshot_id()
    keys = list(on)

    def joined(l_df: DataFrame, r_df: DataFrame) -> DataFrame:
        j = l_df.join(r_df, on=keys, how="inner")
        return j.select(*select) if select else j

    exists = catalog.table_exists(namespace, view_table)
    last = (None, None)
    if exists:
        props = catalog.table(namespace, view_table).properties
        if LEFT_SNAP_PROP in props and RIGHT_SNAP_PROP in props:
            last = (int(props[LEFT_SNAP_PROP]), int(props[RIGHT_SNAP_PROP]))
        if last == (l_snap, r_snap):
            return {"status": "up_to_date"}

    mode = "full"
    if exists and last[0] is not None:
        try:
            d_left = left.read_incremental(spark, last[0])
            d_right = right.read_incremental(spark, last[1])
            view = catalog.table(namespace, view_table)
            # dO x C_new  ∪  O_old x dC  (disjoint by construction).
            # Each term is SKIPPED when its delta side is empty — the
            # common case (facts append constantly, dims rarely) then
            # never re-reads the old fact table at all. When the dim
            # DID move, the O_old x dC term scans old facts once;
            # partition/stats/bloom pruning on the join key bounds
            # that scan when the fact table is keyed-partitioned.
            terms = []
            if l_snap != last[0]:
                terms.append(joined(d_left, right.read(spark)))
            if r_snap != last[1]:
                old_left = left.read(spark, snapshot_id=last[0])
                terms.append(joined(old_left, d_right))
            if terms:
                delta = terms[0]
                for t_ in terms[1:]:
                    delta = delta.unionByName(t_)
                view.append(delta)
            mode = "delta"
        except (ValueError, KeyError):
            # non-append commit crossed, or the anchor snapshot was
            # expired: rebuild
            mode = "full"

    if mode == "full":
        view = catalog.write(
            namespace, view_table, joined(left.read(spark), right.read(spark)),
            mode="overwrite",
        )

    view.set_properties(
        {LEFT_SNAP_PROP: str(l_snap), RIGHT_SNAP_PROP: str(r_snap)}
    )
    return {"status": "refreshed", "mode": mode}
