"""Merge-on-read POSITION deletes (Iceberg v2 content=1).

``write.delete.mode = merge-on-read`` makes DELETE append a small
(file_name, pos) parquet instead of rewriting data files; every read
anti-joins it away until compact() materializes. Export translates the
native delete files to spec position-delete parquet (reserved
field-ids 2147483546/2147483545, sorted, one part per target
partition value) under content=1 DELETE manifests, and a pure-DuckDB
"Iceberg reader" (read_parquet file_row_number) reproduces the
engine's resolve row-for-row. Reference parity: the reference's
Iceberg tables declare format-version 2 (scripts/bronze-silver.py:197),
whose row-level delete contract includes position deletes.
"""

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
    merge_into,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("part", T.StringType()),
        T.StructField("v", T.StringType()),
    ]
)


def make(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def mor_table(spark, tmp_path, name="t", partition_by=None):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d",
        name,
        SCHEMA,
        partition_by=partition_by or (),
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(make(spark, [(1, "a", "x1"), (2, "a", "x2"), (3, "b", "x3")]))
    t.append(make(spark, [(4, "b", "x4"), (5, "c", "x5")]))
    return t


def test_position_delete_keeps_data_files(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    before = set(t.current_snapshot().files)
    snap = t.delete_where(spark, "id IN (2, 4)")
    assert snap.operation == "delete"
    assert set(snap.files) == before  # no data file touched
    assert snap.added_files == [] and snap.removed_files == []
    assert len(snap.delete_files) >= 1
    assert {r["id"] for r in t.read(spark).collect()} == {1, 3, 5}
    # logical row accounting
    assert snap.summary["total_records"] == 3


def test_cow_mode_still_default(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "cow", SCHEMA)
    t.append(make(spark, [(1, "a", "x1"), (2, "a", "x2")]))
    snap = t.delete_where(spark, "id = 1")
    assert snap.delete_files == [] and snap.removed_files != []


def test_chained_deletes_accumulate_and_never_duplicate(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    t.delete_where(spark, "id <= 2")
    first = list(t.current_snapshot().delete_files)
    # overlapping predicate: ids 1-2 already gone, only 3 is new
    snap = t.delete_where(spark, "id <= 3")
    assert set(first) < set(snap.delete_files)
    assert {r["id"] for r in t.read(spark).collect()} == {4, 5}
    # each (file, pos) recorded at most once across the live set:
    # total delete rows == number of logically deleted rows
    import pyarrow.parquet as pq

    n = sum(
        pq.ParquetFile(t.data_root / f).metadata.num_rows
        for f in snap.delete_files
    )
    assert n == 3
    assert snap.summary["total_records"] == 2


def test_no_match_is_noop(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    v = t.current_snapshot().version
    snap = t.delete_where(spark, "id = 999")
    assert snap.version == v and snap.delete_files == []


def test_time_travel_before_delete(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    pre = t.current_snapshot().snapshot_id
    t.delete_where(spark, "part = 'a'")
    assert t.read(spark, snapshot_id=pre).count() == 5
    assert t.read(spark).count() == 3


def test_time_travel_between_deletes(spark, tmp_path):
    # a snapshot between two MOR deletes reads with its OWN delete set
    t = mor_table(spark, tmp_path)
    t.delete_where(spark, "id = 1")
    mid = t.current_snapshot().snapshot_id
    t.delete_where(spark, "id = 4")
    assert {r["id"] for r in t.read(spark, snapshot_id=mid).collect()} == {
        2, 3, 4, 5,
    }
    assert {r["id"] for r in t.read(spark).collect()} == {2, 3, 5}


def test_scan_prunes_and_applies_deletes(spark, tmp_path):
    t = mor_table(spark, tmp_path, partition_by=["part"])
    t.delete_where(spark, "id = 3")
    got = {r["id"] for r in t.scan(spark, "part = 'b'").collect()}
    assert got == {4}


def test_compact_materializes(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    t.delete_where(spark, "id IN (1, 5)")
    snap = t.compact(spark)
    assert snap.delete_files == []
    assert {r["id"] for r in t.read(spark).collect()} == {2, 3, 4}
    assert snap.summary["total_records"] == 3


def test_cow_rewrite_does_not_resurrect(spark, tmp_path):
    """A COW MERGE/UPDATE rewriting a file with live position deletes
    must apply them first, else deleted rows come back."""
    t = mor_table(spark, tmp_path)
    t.delete_where(spark, "id = 2")
    # merge touches the file holding ids 1-3 (same file as deleted 2)
    merge_into(spark, t, make(spark, [(1, "a", "NEW")]), on="id")
    assert {r["id"] for r in t.read(spark).collect()} == {1, 3, 4, 5}
    t.update_where(spark, {"v": "'up'"}, "id = 3")
    assert {r["id"] for r in t.read(spark).collect()} == {1, 3, 4, 5}


def test_rollback_restores_deleted_rows(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    pre = t.current_snapshot().snapshot_id
    t.delete_where(spark, "id <= 3")
    assert t.read(spark).count() == 2
    t.rollback_to(pre)
    assert t.read(spark).count() == 5


def test_vacuum_keeps_live_delete_files(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    snap = t.delete_where(spark, "id = 1")
    assert t.vacuum(dry_run=True, older_than_seconds=0) == []
    for f in snap.delete_files:
        assert (t.data_root / f).exists()
    # after compaction + expiry the delete files become orphans
    t.compact(spark)
    t.expire_snapshots(keep_last=1)
    removed = t.vacuum(older_than_seconds=0)
    assert set(snap.delete_files) <= set(removed)
    assert t.read(spark).count() == 4


def test_position_deletes_with_mor_merge_deltas(spark, tmp_path):
    """A merge-on-read MERGE is itself position deletes: its matched
    base row is deleted by position, and a later DELETE of the
    upserted row removes the key (no older version comes back)."""
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d",
        "mix",
        SCHEMA,
        properties={
            "write.delete.mode": "merge-on-read",
            "write.merge.mode": "merge-on-read",
        },
    )
    t.append(make(spark, [(1, "a", "base1"), (2, "a", "base2")]))
    merge = merge_into(spark, t, make(spark, [(1, "a", "delta1")]), on="id")
    assert merge.operation == "merge" and merge.removed_files == []
    assert len(merge.delete_files) == 1
    assert {r["v"] for r in t.read(spark).collect()} == {"delta1", "base2"}
    # delete the merged row by position: each (file, pos) lands in
    # one delete file, and the logical count follows
    snap = t.delete_where(spark, "v = 'delta1'")
    assert len(snap.delete_files) == 2
    assert snap.summary["total_records"] == 1
    assert {r["v"] for r in t.read(spark).collect()} == {"base2"}


def test_files_metadata_table_contents(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    t.delete_where(spark, "id = 1")
    rows = t.files_df(spark).collect()
    by_content = {}
    for r in rows:
        by_content.setdefault(r["content"], []).append(r)
    assert len(by_content[0]) == len(t.current_snapshot().files)
    assert len(by_content[1]) == len(t.current_snapshot().delete_files)
    assert all(r["record_count"] >= 1 for r in by_content[1])


def test_duckdb_oracle_reader_matches(spark, tmp_path):
    """Independent reader: DuckDB applies the native delete files with
    read_parquet(file_row_number, filename) and matches the engine."""
    t = mor_table(spark, tmp_path, partition_by=["part"])
    t.delete_where(spark, "id IN (2, 3, 5)")
    snap = t.current_snapshot()
    con = duckdb.connect()
    data_glob = [str(t.data_root / f) for f in snap.files]
    del_glob = [str(t.data_root / f) for f in snap.delete_files]
    got = con.execute(
        """
        SELECT d.id FROM read_parquet($data, file_row_number=true,
                                      filename=true, hive_partitioning=true) d
        ANTI JOIN read_parquet($dels) x
          ON regexp_extract(d.filename, '([^/]+)$', 1) = x.file_name
         AND d.file_row_number = x.pos
        ORDER BY d.id
        """,
        {"data": data_glob, "dels": del_glob},
    ).fetchall()
    assert [r[0] for r in got] == [1, 4]
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 4]


def test_export_position_deletes_iceberg_shape(spark, tmp_path):
    """Exported layout: content=1 entries in a DELETE manifest point
    at spec-shaped position-delete parquet (reserved field-ids,
    sorted, per-partition parts) and a DuckDB reader over ONLY the
    exported dir reproduces the engine's rows."""
    import pyarrow.parquet as pq

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.functions.avro_codec import (
        read_container_file,
    )
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        export_iceberg_dir,
        import_iceberg_dir,
    )

    t = mor_table(spark, tmp_path, partition_by=["part"])
    t.delete_where(spark, "id IN (1, 4)")
    dest = export_iceberg_dir(t, tmp_path / "exported")

    snap = t.current_snapshot()
    del_man = dest / "metadata" / f"manifest-{snap.snapshot_id}-deletes.avro"
    assert del_man.exists()
    _, entries = read_container_file(del_man)
    pos_entries = [e for e in entries if e["data_file"]["content"] == 1]
    assert pos_entries, "no position-delete entries in DELETE manifest"
    for e in pos_entries:
        rel = e["data_file"]["file_path"]
        pf = pq.ParquetFile(dest / rel)
        sch = pf.schema_arrow
        assert [f.name for f in sch] == ["file_path", "pos"]
        assert (
            sch.field("file_path").metadata[b"PARQUET:field_id"]
            == b"2147483546"
        )
        assert sch.field("pos").metadata[b"PARQUET:field_id"] == b"2147483545"
        tbl = pf.read()
        rows = list(
            zip(tbl.column("file_path").to_pylist(),
                tbl.column("pos").to_pylist())
        )
        assert rows == sorted(rows)
        # every part is scoped to ONE target partition dir
        dirs = {p.rsplit("/", 1)[0] for p, _ in rows}
        assert len(dirs) == 1
        # targets resolve inside the self-contained export dir
        for p, _ in rows:
            assert (dest / p).exists()
        # delete seq > every target data file's seq (v2 apply rule)
        target_seqs = {
            d["sequence_number"]
            for d in _data_entries(dest, snap.snapshot_id)
            if f"data/{_rel_of(d)}" in {p for p, _ in rows}
        }
        assert all(e["sequence_number"] > s for s in target_seqs)

    # DuckDB as the stand-in Iceberg reader over the EXPORT dir only
    con = duckdb.connect()
    data_files = sorted(
        str(dest / f"data/{f}") for f in snap.files
    )
    del_files = [str(dest / e["data_file"]["file_path"]) for e in pos_entries]
    got = con.execute(
        """
        SELECT d.id FROM read_parquet($data, file_row_number=true,
                                      filename=true, hive_partitioning=true) d
        ANTI JOIN read_parquet($dels) x
          ON ends_with(x.file_path, regexp_extract(d.filename, '([^/]+)$', 1))
         AND d.file_row_number = x.pos
        ORDER BY d.id
        """,
        {"data": data_files, "dels": del_files},
    ).fetchall()
    assert [r[0] for r in got] == sorted(
        r["id"] for r in t.read(spark).collect()
    )

    # import round-trip recovers the native delete set
    back = import_iceberg_dir(dest)
    assert back[-1].delete_files == snap.delete_files


def _data_entries(dest, snapshot_id):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.functions.avro_codec import (
        read_container_file,
    )

    _, entries = read_container_file(
        dest / "metadata" / f"manifest-{snapshot_id}.avro"
    )
    return entries


def _rel_of(entry):
    return entry["data_file"]["file_path"].removeprefix("data/")


def test_mor_update_single_commit(spark, tmp_path):
    """merge-on-read UPDATE: old rows position-deleted, updated rows
    appended, both in ONE snapshot; data files untouched."""
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "up", SCHEMA,
        properties={"write.update.mode": "merge-on-read"},
    )
    t.append(make(spark, [(1, "a", "x1"), (2, "a", "x2"), (3, "b", "x3")]))
    before_files = set(t.current_snapshot().files)
    v_before = t.current_snapshot().version
    snap = t.update_where(spark, {"v": "upper(v)"}, "part = 'a'")
    assert snap.version == v_before + 1  # ONE commit
    assert snap.operation == "update"
    assert before_files <= set(snap.files)  # old files stay
    assert snap.added_files and not snap.removed_files
    assert snap.delete_files
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "X1", 2: "X2", 3: "x3"}
    assert snap.summary["total_records"] == 3
    # chained MOR update over already-updated rows
    t.update_where(spark, {"v": "concat(v, '!')"}, "id = 1")
    assert t.read(spark).filter("id = 1").collect()[0]["v"] == "X1!"
    # compact materializes everything
    t.compact(spark)
    assert t.current_snapshot().delete_files == []
    assert {r["v"] for r in t.read(spark).collect()} == {"X1!", "X2", "x3"}


def test_mor_update_no_match_noop(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "up2", SCHEMA,
        properties={"write.update.mode": "merge-on-read"},
    )
    t.append(make(spark, [(1, "a", "x1")]))
    v = t.current_snapshot().version
    assert t.update_where(spark, {"v": "'z'"}, "id = 9").version == v


def test_rewrite_position_deletes_consolidates(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    for cond in ("id = 1", "id = 4", "id = 5"):
        t.delete_where(spark, cond)
    pre = t.current_snapshot()
    assert len(pre.delete_files) == 3
    total_before = pre.summary["total_records"]
    snap = t.rewrite_position_deletes(spark)
    assert snap.operation == "rewrite-deletes"
    assert len(snap.delete_files) == 1
    assert snap.files == pre.files  # no data file touched
    assert snap.summary["total_records"] == total_before
    assert {r["id"] for r in t.read(spark).collect()} == {2, 3}
    # entries stay sorted; idempotent on a single file
    import pyarrow.parquet as pq

    tbl = pq.read_table(t.data_root / snap.delete_files[0])
    rows = list(zip(tbl.column("file_name").to_pylist(),
                    tbl.column("pos").to_pylist()))
    assert rows == sorted(rows) and len(rows) == 3
    assert t.rewrite_position_deletes(spark).version == snap.version
    # SQL procedure surface
    cat = Catalog(tmp_path / "wh")
    sess = cat.sql_session(spark)
    sess.sql("USE d")
    t.delete_where(spark, "id = 2")
    out = sess.sql(
        "CALL system.rewrite_position_delete_files(table => 't')"
    ).collect()
    assert out[0]["rewritten_delete_files_count"] == 1
    assert {r["id"] for r in t.read(spark).collect()} == {3}


def test_entries_status_for_carried_forward_delete_files(spark, tmp_path):
    """<t>.entries mirrors the data-file status logic for delete
    files: ADDED (1) only in the snapshot that introduced the delete
    file, EXISTING (0) once the parent's delete files carry forward
    into a later commit."""
    t = mor_table(spark, tmp_path)
    t.delete_where(spark, "id = 2")  # introduces a position-delete file
    ent = t.entries_df(spark).where(F.col("content") == 1).collect()
    assert len(ent) >= 1 and all(r["status"] == 1 for r in ent)

    t.append(make(spark, [(6, "c", "x6")]))   # delete file carries forward
    ent2 = t.entries_df(spark).where(F.col("content") == 1).collect()
    assert len(ent2) == len(ent)
    assert all(r["status"] == 0 for r in ent2), \
        "carried-forward delete file must be EXISTING"


def test_partitioned_delete_does_not_cross_partitions(spark, tmp_path):
    """Regression: one partitioned write emits the same part-NNNNN
    basename in EVERY partition dir it touches, and position deletes
    key rows by basename — before the per-file staging index, a
    delete recorded in partition 'a' also anti-joined away the
    same-position rows of 'b' and 'c'."""
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t", SCHEMA, partition_by=["part"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    # single-task write → identical part names in all three dirs;
    # row ids 1/2/3 sit at position 0 of their respective files
    t.append(
        make(spark, [(1, "a", "x1"), (2, "b", "x2"), (3, "c", "x3"),
                     (4, "a", "y1"), (5, "b", "y2")]).coalesce(1)
    )
    bases = [f.rsplit("/", 1)[-1] for f in t.current_snapshot().files]
    assert len(bases) == len(set(bases)), "basenames must be table-unique"

    t.delete_where(spark, "id = 1")  # position 0 of partition 'a' only
    got = {r["id"] for r in t.read(spark).collect()}
    assert got == {2, 3, 4, 5}, got


def test_partitioned_mor_update_does_not_cross_partitions(spark, tmp_path):
    """Same cross-partition hazard as the DELETE regression, through
    the UPDATE path: position-deletes + replacement appends in one
    commit must only touch the matched rows even when every partition
    dir shares a part name from the single-task write."""
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t", SCHEMA, partition_by=["part"],
        properties={"write.update.mode": "merge-on-read"},
    )
    t.append(
        make(spark, [(1, "a", "x1"), (2, "b", "x2"), (3, "c", "x3"),
                     (4, "a", "y1"), (5, "b", "y2")]).coalesce(1)
    )
    t.update_where(spark, {"v": "'upd'"}, "id = 1")
    got = {(r["id"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, "upd"), (2, "x2"), (3, "x3"), (4, "y1"), (5, "y2")}
    for s in t.snapshots():
        assert not s.removed_files  # MOR: no data file rewritten
