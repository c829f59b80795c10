"""Snapshot expiry + orphan-file vacuum."""

import pytest
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
    merge_into,
)

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)


def make(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_vacuum_removes_cow_replaced_files(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t", SCHEMA)
    t.append(make(spark, [(1, "a"), (2, "b")]))
    merge_into(spark, t, make(spark, [(1, "a2")]), on="id")  # COW rewrite

    # replaced files still on disk for time travel
    orphans_before = t.vacuum(dry_run=True, older_than_seconds=0)
    assert orphans_before == []  # still referenced by snapshot 2

    t.expire_snapshots(keep_last=1)
    # default retention protects young files (in-flight writer guard)
    assert t.vacuum(dry_run=True) == []
    orphans = t.vacuum(dry_run=True, older_than_seconds=0)
    assert len(orphans) >= 1
    removed = t.vacuum(older_than_seconds=0)
    assert removed == orphans
    # table still reads fine; orphans really gone
    assert {r["v"] for r in t.read(spark).collect()} == {"a2", "b"}
    assert t.vacuum(dry_run=True, older_than_seconds=0) == []


def test_expire_blocks_time_travel_but_keeps_current(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t2", SCHEMA)
    s1 = t.append(make(spark, [(1, "a")]))
    t.append(make(spark, [(2, "b")]))
    expired = t.expire_snapshots(keep_last=1)
    assert s1.snapshot_id in expired
    with pytest.raises(KeyError):
        t.read(spark, snapshot_id=s1.snapshot_id)
    assert t.read(spark).count() == 2
    # metadata tables reflect retained history only
    assert t.history_df(spark).count() == 1


def test_expire_refuses_live_mor_deltas(spark, tmp_path):
    # a merge-on-read MERGE's state is the head's own delete files,
    # so expiring the history before it is safe, and vacuum keeps
    # every file the head still names
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t3", SCHEMA, properties={"write.merge.mode": "merge-on-read"}
    )
    t.append(make(spark, [(1, "a")]))
    merge_into(spark, t, make(spark, [(1, "a2")]), on="id")
    t.append(make(spark, [(2, "b")]))
    head = t.current_snapshot()
    assert head.delete_files
    assert len(t.expire_snapshots(keep_last=1)) == 3
    removed = t.vacuum(older_than_seconds=0)
    assert not set(removed) & set(head.files + head.delete_files)
    assert {r["v"] for r in t.read(spark).collect()} == {"a2", "b"}


def test_rollback_to_snapshot(spark, tmp_path):
    """rollback_to: metadata-only revert — new head re-points at the
    target's files/schema; history keeps the undone snapshots."""
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t", SCHEMA)
    t.append(make(spark, [(1, "a"), (2, "b")]))
    good = t.current_snapshot()
    t.append(make(spark, [(3, "oops")]))
    t.delete_where(spark, "id = 1")
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 3]

    snap = t.rollback_to(good.snapshot_id)
    assert snap.operation == "rollback"
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]
    # undone snapshots stay in history for audit
    assert [s.operation for s in t.snapshots()].count("rollback") == 1
    assert len(t.snapshots()) == 5  # create, append, append, delete, rollback

    # the SQL procedure honors the stock Iceberg contract — scripts
    # assert current_snapshot_id == rollback target — and reports the
    # engine's live head (our history-preserving 'rollback' commit,
    # usable with snapshot_by_id/time travel) in the extra
    # engine_commit_snapshot_id column
    sess = cat.sql_session(spark)
    sess.sql("USE d")
    t.append(make(spark, [(9, "z")]))
    row = sess.sql(
        f"CALL system.rollback_to_snapshot('d.t', {good.snapshot_id})"
    ).collect()[0]
    assert row["current_snapshot_id"] == good.snapshot_id
    assert row["engine_commit_snapshot_id"] == t.current_snapshot().snapshot_id
    assert (
        t.snapshot_by_id(row["engine_commit_snapshot_id"]).operation == "rollback"
    )
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]

    # no-op rollback to the state we're already at is tolerated
    head = t.current_snapshot()
    assert t.rollback_to(head.snapshot_id).snapshot_id == head.snapshot_id


def test_rollback_refuses_missing_target_state(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t", SCHEMA)
    t.append(make(spark, [(1, "a")]))
    old = t.current_snapshot()
    t.overwrite(make(spark, [(2, "b")]))

    # expired manifest -> the snapshot no longer exists at all
    t2 = cat.create_table("d", "t2", SCHEMA)
    t2.append(make(spark, [(1, "a")]))
    gone = t2.current_snapshot()
    t2.overwrite(make(spark, [(2, "b")]))
    t2.expire_snapshots(keep_last=1)
    with pytest.raises(KeyError, match="not found"):
        t2.rollback_to(gone.snapshot_id)

    # manifest retained but a data file lost out-of-band (the state
    # vacuum would leave only if something external deleted files):
    # refuse with the explicit message instead of resurrecting a
    # snapshot that cannot be read
    (t.data_root / old.files[0]).unlink()
    with pytest.raises(ValueError, match="vacuumed"):
        t.rollback_to(old.snapshot_id)


def test_expire_older_than_timestamp_gate(spark, tmp_path):
    """older_than_ms is an ADDITIONAL gate: a snapshot must be both
    outside keep_last and older than the timestamp; keep_last stays
    a floor when the timestamp would take everything."""
    import time

    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "texp", SCHEMA)
    s1 = t.append(make(spark, [(1, "a")]))
    s2 = t.append(make(spark, [(2, "b")]))
    t.append(make(spark, [(3, "c")]))

    # timestamp before every commit -> nothing is old enough
    assert t.expire_snapshots(keep_last=1, older_than_ms=0) == []
    assert t.read(spark, snapshot_id=s1.snapshot_id).count() == 1

    # timestamp in the future -> gate is moot, keep_last governs
    future = int(time.time() * 1000) + 60_000
    expired = t.expire_snapshots(keep_last=1, older_than_ms=future)
    assert s1.snapshot_id in expired and s2.snapshot_id in expired
    assert t.read(spark).count() == 3


def test_expire_older_than_via_sql_call(spark, tmp_path):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.sql import (
        SqlSession,
    )

    cat = Catalog(tmp_path / "wh")
    sess = SqlSession(spark, cat)
    cat.create_namespace("d")
    t = cat.create_table("d", "tsql", SCHEMA)
    t.append(make(spark, [(1, "a")]))
    t.append(make(spark, [(2, "b")]))
    sess.sql("USE d")
    # older_than as epoch millis 0: stock positional order, nothing
    # qualifies
    rows = sess.sql(
        "CALL system.expire_snapshots('d.tsql', 0, 1)"
    ).collect()
    assert rows == []
    # ISO timestamp far in the future: everything outside keep_last
    rows = sess.sql(
        "CALL system.expire_snapshots('d.tsql', '2099-01-01T00:00:00', 1)"
    ).collect()
    assert len(rows) == 2  # create + first append
