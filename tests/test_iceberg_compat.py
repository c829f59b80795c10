"""The Iceberg migration boundary: export our JSON-manifest table
state as an Iceberg v2 TableMetadata document, validate its spec
shape, and re-import it losslessly (lakehouse/iceberg_compat.py).

This is the seam a real-Iceberg shim plugs into once the runtime
jars exist; `compat_notes()` enumerates exactly what such a shim
still owes (schema-history field-ids, MOR delete files). Closed
here across r5: Avro manifests, murmur3 bucket values, binary
bounds, and the catalog pointer's atomic CAS commit.
"""

import json

from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
    merge_into,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
    compat_notes,
    import_table_metadata,
    schema_to_iceberg,
    table_metadata,
)

def _schema():
    # fromDDL needs an active session -> build lazily inside tests
    return T.StructType.fromDDL(
        "id long, v string, amount decimal(12,2), ts timestamp, "
        "tags array<string>, attrs map<string,double>"
    )


def _table(spark, tmp_path):
    SCHEMA = _schema()
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t", SCHEMA, partition_by=["bucket(4, id)", "days(ts)"]
    )
    rows = [
        (i, f"v{i}", None, None, ["a"], {"x": 1.0}) for i in range(20)
    ]
    t.append(spark.createDataFrame(rows, SCHEMA))
    t.append(
        spark.createDataFrame(
            [(100, "new", None, None, None, None)], SCHEMA
        )
    )
    merge_into(
        spark,
        t,
        spark.createDataFrame([(0, "updated", None, None, None, None)], SCHEMA),
        on="id",
    )
    t.delete_where(spark, "id = 1")
    return t


def test_export_is_valid_v2_metadata(spark, tmp_path):
    t = _table(spark, tmp_path)
    doc = table_metadata(t)

    # required v2 top-level keys (public spec, "Table Metadata" table)
    for key in [
        "format-version", "table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "schemas", "current-schema-id",
        "partition-specs", "default-spec-id", "last-partition-id",
        "sort-orders", "default-sort-order-id", "properties",
        "current-snapshot-id", "snapshots", "snapshot-log",
    ]:
        assert key in doc, key
    assert doc["format-version"] == 2
    assert json.dumps(doc["snapshots"])  # serializable end-to-end

    # snapshots: dense monotonic ids, linear parent lineage, spec ops
    snaps = doc["snapshots"]
    ids = [s["snapshot-id"] for s in snaps]
    assert ids == sorted(ids)
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent-snapshot-id"] == prev["snapshot-id"]
    allowed_ops = {"append", "replace", "overwrite", "delete"}
    assert all(s["summary"]["operation"] in allowed_ops for s in snaps)
    assert doc["current-snapshot-id"] == ids[-1]
    assert doc["last-sequence-number"] == ids[-1]

    # schema: unique field-ids covering nested element/key/value ids
    ice_schema = doc["schemas"][0]
    seen = []

    def walk(node):
        if isinstance(node, dict):
            if node.get("type") == "struct":
                for f in node["fields"]:
                    seen.append(f["id"])
                    walk(f["type"])
            elif node.get("type") == "list":
                seen.append(node["element-id"])
                walk(node["element"])
            elif node.get("type") == "map":
                seen.append(node["key-id"])
                seen.append(node["value-id"])
                walk(node["key"])
                walk(node["value"])

    walk(ice_schema)
    assert len(seen) == len(set(seen)) > 6
    assert doc["last-column-id"] in seen
    by_name = {f["name"]: f["type"] for f in ice_schema["fields"]}
    assert by_name["amount"] == "decimal(12, 2)"
    assert by_name["ts"] == "timestamptz"  # Spark TimestampType is LTZ
    assert by_name["tags"]["type"] == "list"
    assert by_name["attrs"]["type"] == "map"

    # partition spec: transform spellings + source-id resolution
    spec = doc["partition-specs"][0]
    assert [f["transform"] for f in spec["fields"]] == ["bucket[4]", "day"]
    assert [f["field-id"] for f in spec["fields"]] == [1000, 1001]
    name_to_id = {f["name"]: f["id"] for f in ice_schema["fields"]}
    assert spec["fields"][0]["source-id"] == name_to_id["id"]
    assert spec["fields"][1]["source-id"] == name_to_id["ts"]


def test_manifest_entries_track_file_lifecycle(spark, tmp_path):
    t = _table(spark, tmp_path)
    doc = table_metadata(t)
    snaps = t.snapshots()
    for snap in snaps:
        manifest = doc["manifests"][str(snap.snapshot_id)]
        live = {
            e["data-file"]["file-path"].removeprefix("data/")
            for e in manifest
            if e["status"] in (0, 1)
        }
        added = {
            e["data-file"]["file-path"].removeprefix("data/")
            for e in manifest
            if e["status"] == 1
        }
        deleted = {
            e["data-file"]["file-path"].removeprefix("data/")
            for e in manifest
            if e["status"] == 2
        }
        assert live == set(snap.files)
        assert added == set(snap.added_files)
        assert deleted == set(snap.removed_files)

    # changelog parity: the ADDED entries between start(exclusive)
    # and end(inclusive) are exactly what read_incremental scans
    start, end = snaps[0], snaps[1]
    inc_added = {
        e["data-file"]["file-path"].removeprefix("data/")
        for e in doc["manifests"][str(end.snapshot_id)]
        if e["status"] == 1
    }
    assert inc_added == set(end.added_files)
    got = t.read_incremental(
        spark, start.snapshot_id, end.snapshot_id
    ).count()
    want = sum(
        1
        for _ in spark.read.parquet(
            *[str(t.data_root / f) for f in end.added_files]
        ).collect()
    )
    assert got == want


def test_roundtrip_is_lossless(spark, tmp_path):
    t = _table(spark, tmp_path)
    doc = json.loads(json.dumps(table_metadata(t)))  # through-serialized
    back = import_table_metadata(doc)
    native = t.snapshots()
    assert len(back) == len(native)
    for b, n in zip(back, native):
        assert b.snapshot_id == n.snapshot_id
        assert b.parent_id == n.parent_id
        assert b.timestamp_ms == n.timestamp_ms
        assert b.operation == n.operation  # engine spelling preserved
        assert b.files == sorted(n.files)
        assert b.added_files == sorted(n.added_files)
        assert b.removed_files == sorted(n.removed_files)
        assert b.partition_by == n.partition_by
        assert b.properties == n.properties
    # schema survives the Iceberg type system and back
    assert T.StructType.fromJson(json.loads(back[-1].schema_json)) == _schema()


def test_record_count_is_exact_and_unconditional(spark, tmp_path):
    """data_file record-count must be the actual file row count (nulls
    included) and present even when no column is stats-eligible —
    all-null eligible columns and string-only schemas are the two
    shapes parquet column stats alone cannot count."""
    import pyarrow.parquet as pq

    cat = Catalog(tmp_path / "wh")
    sch = T.StructType.fromDDL("id long, v string")
    t = cat.create_table("d", "nulls", sch)
    t.append(
        spark.createDataFrame([(None, "a"), (None, "b"), (7, "c")], sch)
        .coalesce(1)
    )
    s_only = T.StructType.fromDDL("s string")
    t2 = cat.create_table("d", "stronly", s_only)
    t2.append(spark.createDataFrame([("x",), ("y",), ("z",)], s_only).coalesce(1))

    for tbl in (t, t2):
        doc = table_metadata(tbl)
        manifest = doc["manifests"][str(doc["current-snapshot-id"])]
        for e in manifest:
            f = e["data-file"]["file-path"].removeprefix("data/")
            truth = pq.ParquetFile(tbl.data_root / f).metadata.num_rows
            assert e["data-file"].get("record-count") == truth, f


def test_field_ids_are_deterministic(spark):
    a = schema_to_iceberg(_schema())
    b = schema_to_iceberg(_schema())
    assert a == b


def test_compat_notes_enumerate_the_shim_work():
    notes = compat_notes()
    assert len(notes) >= 1
    # gaps CLOSED in r5 must not be listed: murmur3 bucket hash
    # (lakehouse/murmur3.py), Avro manifests / binary bounds
    # (export_iceberg_dir), the catalog pointer's atomic swap
    # (commit_metadata_atomic), and position deletes
    # (write.delete.mode=merge-on-read + export translation)
    assert not any("murmur3" in n for n in notes)
    assert not any("Avro manifest" in n for n in notes)
    assert not any("catalog pointer" in n for n in notes)
    assert not any("position deletes are never emitted" in n for n in notes)


def test_export_iceberg_dir_writes_real_avro_manifests(spark, tmp_path):
    """export_iceberg_dir produces the on-disk Iceberg layout: OCF
    Avro manifests + manifest lists (read back through our own codec
    against the embedded schemas), binary single-value bounds, typed
    partition values, version-hint, metadata.json."""
    import struct

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.functions.avro_codec import (
        read_container_file,
    )
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        export_iceberg_dir,
    )

    t = _table(spark, tmp_path)
    dest = export_iceberg_dir(t, tmp_path / "export")
    meta = dest / "metadata"

    head = t.current_snapshot()
    # sequential HadoopCatalog version (first commit into this dir)
    assert (meta / "version-hint.text").read_text() == "1"
    doc = json.loads((meta / "v1.metadata.json").read_text())
    assert doc["format-version"] == 2
    assert "manifests" not in doc  # JSON extension replaced by Avro
    version = head.snapshot_id  # snap/manifest files keep snapshot ids

    # manifest list: one entry pointing at an existing manifest file
    # whose recorded length is the actual byte length
    _, mlist = read_container_file(meta / f"snap-{version}.avro")
    assert len(mlist) == 1
    mf = mlist[0]
    man_path = meta / mf["manifest_path"].removeprefix("metadata/")
    assert man_path.exists()
    assert mf["manifest_length"] == man_path.stat().st_size
    assert mf["added_snapshot_id"] == version

    # manifest entries: statuses + partition values + counts + bounds
    schema, entries = read_container_file(man_path)
    by_status = {0: 0, 1: 0, 2: 0}
    for e in entries:
        by_status[e["status"]] += 1
        df = e["data_file"]
        assert df["file_path"].startswith("data/")
        assert df["file_format"] == "PARQUET"
        # bucket(4, id) + days(ts) partition: typed, spec-named
        assert set(df["partition"].keys()) == {"id_bucket", "ts_day"}
        b = df["partition"]["id_bucket"]
        assert b is None or (isinstance(b, int) and 0 <= b < 4)
        if e["status"] != 2:
            assert df["record_count"] >= 1
            assert df["file_size_in_bytes"] > 0
    live = {
        e["data_file"]["file_path"].removeprefix("data/")
        for e in entries
        if e["status"] in (0, 1)
    }
    assert live == set(head.files)
    assert by_status[2] == len(head.removed_files)

    # bounds are Iceberg single-value binary: id is a long ->
    # 8-byte little-endian, and lower <= upper when both present
    ids = {f["name"]: f["id"] for f in doc["schemas"][0]["fields"]}
    id_fid = ids["id"]
    for e in entries:
        lo = {kv["key"]: kv["value"] for kv in e["data_file"].get("lower_bounds") or []}
        hi = {kv["key"]: kv["value"] for kv in e["data_file"].get("upper_bounds") or []}
        if id_fid in lo:
            lo_v = struct.unpack("<q", lo[id_fid])[0]
            hi_v = struct.unpack("<q", hi[id_fid])[0]
            assert lo_v <= hi_v

    # every snapshot got its manifest + list pair
    for s in t.snapshots():
        assert (meta / f"manifest-{s.snapshot_id}.avro").exists()
        assert (meta / f"snap-{s.snapshot_id}.avro").exists()


def test_import_iceberg_dir_roundtrips_from_avro_only(spark, tmp_path):
    """The exported Avro layout alone (version-hint -> metadata.json
    -> snap lists -> manifests) must reconstruct the native
    snapshots — file lifecycle included — without the engine's JSON
    manifests."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        export_iceberg_dir,
        import_iceberg_dir,
    )

    t = _table(spark, tmp_path)
    dest = export_iceberg_dir(t, tmp_path / "export")
    back = import_iceberg_dir(dest)
    native = t.snapshots()
    assert len(back) == len(native)
    for b, n in zip(back, native):
        assert b.snapshot_id == n.snapshot_id
        assert b.parent_id == n.parent_id
        assert b.operation == n.operation
        assert b.files == sorted(n.files)
        assert b.added_files == sorted(n.added_files)
        assert b.removed_files == sorted(n.removed_files)
        assert b.partition_by == n.partition_by


def test_atomic_commit_races_serialize(tmp_path):
    """The HadoopCatalog CAS protocol: 16 threads race to commit; the
    kernel's link-if-absent serializes them into 16 DISTINCT
    sequential versions with no lost or duplicated commit, and the
    forward-walk reader converges on the true head even though the
    hint is only best-effort."""
    import threading

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        commit_metadata_atomic,
        current_metadata_version,
    )

    meta = tmp_path / "metadata"
    versions, errs = [], []
    barrier = threading.Barrier(16)

    def worker(i):
        try:
            barrier.wait()
            v = commit_metadata_atomic(meta, f'{{"writer": {i}}}')
            versions.append(v)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert sorted(versions) == list(range(1, 17))
    assert current_metadata_version(meta) == 16
    # no stray temp files from the losers' retries
    assert not list(meta.glob(".*.tmp"))


def test_stale_hint_forward_walk(tmp_path):
    """A stale (or garbage) version-hint must not pin the version:
    the reader walks forward to the newest committed file, and the
    next commit lands above it — HadoopTableOperations.findVersion
    semantics."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        commit_metadata_atomic,
        current_metadata_version,
    )

    meta = tmp_path / "metadata"
    for i in range(3):
        commit_metadata_atomic(meta, f'{{"n": {i}}}')
    (meta / "version-hint.text").write_text("1")  # crashed writer
    assert current_metadata_version(meta) == 3
    assert commit_metadata_atomic(meta, '{"n": 3}') == 4
    (meta / "version-hint.text").write_text("not a number")
    assert current_metadata_version(meta) == 4


def test_repeated_export_bumps_version(spark, tmp_path):
    """Re-exporting an evolving table into the same dir commits
    sequential versions and import follows the newest."""
    import json as _json

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        export_iceberg_dir,
        import_iceberg_dir,
    )

    t = _table(spark, tmp_path)
    dest = export_iceberg_dir(t, tmp_path / "export")
    export_iceberg_dir(t, tmp_path / "export")
    meta = dest / "metadata"
    assert (meta / "v1.metadata.json").exists()
    assert (meta / "v2.metadata.json").exists()
    assert (meta / "version-hint.text").read_text() == "2"
    back = import_iceberg_dir(dest)
    assert len(back) == len(t.snapshots())


def test_field_ids_survive_schema_evolution(spark, tmp_path):
    """Iceberg's id contract through ALTER history: a renamed column
    keeps its original id, a dropped id is retired forever (never
    reused by a later add), and every add takes last-column-id + 1 —
    positional re-assignment from the current schema would violate
    all three after the first drop."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        table_metadata,
    )

    cat = Catalog(tmp_path / "wh")
    sch = T.StructType.fromDDL("a long, b string, c double")
    t = cat.create_table("d", "evo", sch)
    t.append(spark.createDataFrame([(1, "x", 1.0)], sch))

    base = {f["name"]: f["id"] for f in table_metadata(t)["schemas"][0]["fields"]}
    assert base == {"a": 1, "b": 2, "c": 3}

    t.rename_column("b", "b2")      # keeps id 2
    t.drop_column("a")              # retires id 1
    t.add_column("d", "string")     # takes 4, never 1
    t.rename_column("d", "d2")      # keeps 4
    t.add_column("e", "array<long>")  # 5 + element-id 6

    doc = table_metadata(t)
    ids = {f["name"]: f["id"] for f in doc["schemas"][0]["fields"]}
    assert ids == {"b2": 2, "c": 3, "d2": 4, "e": 5}
    e_field = next(f for f in doc["schemas"][0]["fields"] if f["name"] == "e")
    assert e_field["type"]["element-id"] == 6
    assert doc["last-column-id"] == 6
    assert 1 not in ids.values()  # retired, not reused
    # partition-spec source ids resolve through the SAME id space
    assert "iceberg.field-ids" not in doc["properties"]


def _duckdb_spec_rows(dest, cols):
    """DuckDB as the Iceberg reader over an export: the current
    snapshot's live data files minus the ``(file_path, pos)`` rows its
    position-delete files name at an equal or later sequence number.
    Identity partition columns come from the Hive path."""
    import duckdb

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.functions.avro_codec import (
        read_container_file,
    )
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        current_metadata_version,
    )

    meta = dest / "metadata"
    doc = json.loads(
        (meta / f"v{current_metadata_version(meta)}.metadata.json").read_text()
    )
    head = next(
        s for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    _, mlist = read_container_file(dest / head["manifest-list"])
    live, dels = [], []
    for mf in mlist:
        _, entries = read_container_file(dest / mf["manifest_path"])
        for e in entries:
            if e["status"] != 2:
                (dels if mf["content"] == 1 else live).append(
                    (e["data_file"]["file_path"], e["sequence_number"])
                )
    con = duckdb.connect()
    parts = []
    for path, seq in live:
        named = [
            f"SELECT pos FROM '{dest}/{dp}' WHERE file_path = '{path}'"
            for dp, dseq in dels if dseq >= seq
        ]
        cond = (
            f"file_row_number NOT IN ({' UNION ALL '.join(named)})"
            if named else "TRUE"
        )
        parts.append(
            f"SELECT {', '.join(cols)} FROM read_parquet('{dest}/{path}', "
            f"file_row_number = true, hive_partitioning = true) "
            f"WHERE {cond}"
        )
    return con.execute(" UNION ALL ".join(parts)).fetchall()


def test_mor_deltas_export_as_equality_deletes(spark, tmp_path):
    """A merge-on-read MERGE exports as Iceberg v2 position deletes,
    the table's one MOR form. Three checks: (1) layout — one DELETE
    manifest (content=1) of content=1 entries alongside the data
    manifest, no equality deletes, self-contained data dir; (2)
    SEMANTICS — DuckDB applying the position deletes reproduces the
    engine's read exactly, across chained merges and a CDC delete;
    (3) import rebuilds the native data and delete file sets."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.functions.avro_codec import (
        read_container_file,
    )
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        export_iceberg_dir,
        import_iceberg_dir,
    )

    sch = T.StructType.fromDDL("id long, v string, amount double")
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "mor", sch, properties={"write.merge.mode": "merge-on-read"}
    )
    t.append(spark.createDataFrame([(i, f"v{i}", float(i)) for i in range(10)], sch))
    from pyspark.sql import functions as F

    # merge 1: upsert ids 0-2, then a CDC delete of id 3
    up = spark.createDataFrame(
        [(0, "u0", 100.0), (1, "u1", 101.0), (2, "u2", 102.0)], sch)
    merge_into(spark, t, up, on="id")
    dele = spark.createDataFrame([(3, "x", 0.0)], sch).withColumn("Op", F.lit("D"))
    merge_into(spark, t, dele, on="id", delete_predicate="Op = 'D'")
    # merge 3 re-upserts id 0: it position-deletes merge 1's row
    merge_into(spark, t, spark.createDataFrame([(0, "u0b", 200.0)], sch), on="id")
    head = t.current_snapshot()
    assert head.operation == "merge" and head.removed_files == []
    assert len(head.delete_files) == 3

    dest = export_iceberg_dir(t, tmp_path / "export")
    meta = dest / "metadata"

    # (1) layout
    _, mlist = read_container_file(meta / f"snap-{head.snapshot_id}.avro")
    contents = sorted(mf["content"] for mf in mlist)
    assert contents == [0, 1], "expected one data + one delete manifest"
    del_mf = next(mf for mf in mlist if mf["content"] == 1)
    _, del_entries = read_container_file(
        meta / del_mf["manifest_path"].removeprefix("metadata/")
    )
    assert del_entries
    for e in del_entries:
        assert e["data_file"]["content"] == 1
        assert "equality_ids" not in e["data_file"]
        assert (dest / e["data_file"]["file_path"]).exists()
    data_mf = next(mf for mf in mlist if mf["content"] == 0)
    _, data_entries = read_container_file(
        meta / data_mf["manifest_path"].removeprefix("metadata/")
    )
    for e in data_entries:
        assert e["data_file"]["content"] == 0
        assert (dest / e["data_file"]["file_path"]).exists()  # self-contained

    # (2) semantics: DuckDB plays the Iceberg reader over the export
    got = sorted(_duckdb_spec_rows(dest, ["id", "v", "amount"]))
    want = [
        tuple(r) for r in sorted(
            t.read(spark).select("id", "v", "amount").collect()
        )
    ]
    assert got == want, f"iceberg-reader {got} != engine {want}"
    assert any(r[0] == 0 and r[1] == "u0b" for r in got)  # newest wins
    assert not any(r[0] == 3 for r in got)  # delete applied

    # (3) import rebuilds the native file and delete-file sets
    back = import_iceberg_dir(dest)
    native = t.snapshots()
    assert len(back) == len(native)
    for b, n in zip(back, native):
        assert b.files == sorted(n.files)
        assert b.added_files == sorted(n.added_files)
        assert b.delete_files == sorted(n.delete_files)


def test_import_refuses_equality_deletes():
    """An equality-delete file (content=2) holds the KEYS of deleted
    rows: import names it and refuses instead of filing its key rows
    as live data."""
    import pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        snapshot_from_iceberg,
    )

    snap_entry = {
        "snapshot-id": 7,
        "timestamp-ms": 0,
        "summary": {"operation": "delete"},
    }
    manifest = [
        {"status": 1, "data-file": {"content": 0,
                                    "file-path": "data/a.parquet"}},
        {"status": 1, "data-file": {"content": 2,
                                    "file-path": "data/eq-1.parquet"}},
    ]
    with pytest.raises(ValueError, match="eq-1.parquet"):
        snapshot_from_iceberg(snap_entry, manifest, "{}", [], {})


def test_refs_export_as_v2_refs_map(spark, tmp_path):
    # the refs map is part of the v2 spec: main mirrors
    # current-snapshot-id, and every engine branch/tag exports with
    # its spec type and pinned snapshot id
    t = _table(spark, tmp_path)
    t.create_tag("audit-2026", snapshot_id=t.snapshots()[0].snapshot_id)
    t.create_branch("wip")
    doc = table_metadata(t)
    refs = doc["refs"]
    assert refs["main"] == {
        "snapshot-id": doc["current-snapshot-id"], "type": "branch"
    }
    assert refs["audit-2026"]["type"] == "tag"
    assert refs["audit-2026"]["snapshot-id"] == t.snapshots()[0].snapshot_id
    assert refs["wip"]["type"] == "branch"
    # every ref points at an exported snapshot
    exported_ids = {s["snapshot-id"] for s in doc["snapshots"]}
    assert {r["snapshot-id"] for r in refs.values()} <= exported_ids


def test_external_spec_reader_reconstructs_current_rows(spark, tmp_path):
    """A reader implementing ONLY the published v2 protocol
    (version-hint -> metadata.json -> manifest list -> manifests ->
    parquet, position deletes at seq <=, identity partition values
    from the manifest partition record) must reproduce the engine's
    current-table read byte-for-byte — across hidden-transform
    partitioning, identity partitioning with path-only columns, a
    merge-on-read MERGE, and merge-on-read DELETE."""
    from pyspark.sql import functions as F

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        export_iceberg_dir,
        read_exported_table,
    )

    def rows_of(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())

    def ext_rows(dest, cols):
        pdf = read_exported_table(dest)
        vals = [
            tuple(None if pdf[c].isna()[i] else pdf[c][i] for c in cols)
            for i in range(len(pdf))
        ]
        return sorted(vals)

    # (A) hidden-transform partitions (bucket/days) + COW merge + delete
    t = _table(spark, tmp_path)
    dest = export_iceberg_dir(t, tmp_path / "exp_a")
    cols = ["id", "v"]
    assert ext_rows(dest, cols) == rows_of(t.read(spark), cols)

    # (B) identity partitioning: the partition column exists ONLY in
    # the path + manifest record; the reader must re-inject it typed
    sch = T.StructType.fromDDL("id long, seg string, amount double")
    cat = Catalog(tmp_path / "wh_b")
    tb = cat.create_table("d", "ident", sch, partition_by=["seg"])
    tb.append(spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(12)], sch))
    merge_into(spark, tb,
               spark.createDataFrame([(0, "a", 99.0)], sch), on="id")
    dest_b = export_iceberg_dir(tb, tmp_path / "exp_b")
    cols_b = ["id", "seg", "amount"]
    assert ext_rows(dest_b, cols_b) == rows_of(tb.read(spark), cols_b)

    # (C) merge-on-read MERGE (position deletes) + chained upserts
    sch_c = T.StructType.fromDDL("id long, v string, amount double")
    cat_c = Catalog(tmp_path / "wh_c")
    tc = cat_c.create_table(
        "d", "mor", sch_c, properties={"write.merge.mode": "merge-on-read"})
    tc.append(spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(10)], sch_c))
    merge_into(spark, tc, spark.createDataFrame(
        [(0, "u0", 100.0), (1, "u1", 101.0)], sch_c), on="id")
    dele = spark.createDataFrame([(3, "x", 0.0)], sch_c).withColumn(
        "Op", F.lit("D"))
    merge_into(spark, tc, dele, on="id", delete_predicate="Op = 'D'")
    merge_into(spark, tc, spark.createDataFrame(
        [(0, "u0b", 200.0)], sch_c), on="id")
    assert tc.current_snapshot().operation == "merge"
    assert tc.current_snapshot().delete_files
    dest_c = export_iceberg_dir(tc, tmp_path / "exp_c")
    cols_c = ["id", "v", "amount"]
    assert ext_rows(dest_c, cols_c) == rows_of(tc.read(spark), cols_c)
    assert sorted(_duckdb_spec_rows(dest_c, cols_c)) == rows_of(
        tc.read(spark), cols_c
    )

    # (D) position deletes (MOR DELETE mode): dropped (file, pos) rows
    cat_d = Catalog(tmp_path / "wh_d")
    td = cat_d.create_table(
        "d", "pos", sch_c,
        properties={"write.delete.mode": "merge-on-read"})
    td.append(spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(10)], sch_c))
    td.delete_where(spark, "id IN (2, 5, 7)")
    td.delete_where(spark, "id = 0")
    dest_d = export_iceberg_dir(td, tmp_path / "exp_d")
    assert ext_rows(dest_d, cols_c) == rows_of(td.read(spark), cols_c)
    assert len(ext_rows(dest_d, cols_c)) == 6


def test_external_spec_reader_across_partition_evolution(spark, tmp_path):
    """The exported per-spec manifests (an Avro manifest's partition
    record type is fixed by its spec) must remain readable by the
    pure-spec protocol AFTER an identity -> bucket spec evolution:
    batch-1 files carry identity partition records (re-injected),
    batch-2 files carry bucket records (derived; source column stays
    in the file)."""
    from pyspark.sql import types as T2

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        export_iceberg_dir,
        read_exported_table,
    )

    sch = T2.StructType.fromDDL("k long, p string, v double")
    cat = Catalog(tmp_path / "wh_pe")
    t = cat.create_table("d", "pe", sch, partition_by=["p"])
    t.append(spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(8)], sch))
    t.evolve_partition_spec(["bucket(4, k)"])
    t.append(spark.createDataFrame(
        [(100 + i, "c", 100.0 + i) for i in range(6)], sch))

    dest = export_iceberg_dir(t, tmp_path / "exp_pe")
    pdf = read_exported_table(dest)
    got = sorted(
        (int(r.k), r.p, float(r.v)) for r in pdf.itertuples(index=False)
    )
    want = sorted(
        (r["k"], r["p"], r["v"])
        for r in t.read(spark).collect()
    )
    assert got == want and len(got) == 14


def test_external_reader_eq_delete_on_partition_column(spark, tmp_path):
    """A merge-on-read MERGE keyed on an identity-partition column:
    the key values live ONLY in the path + manifest partition record.
    The merge position-deletes the matched rows, and both spec
    readers (read_exported_table, DuckDB) drop exactly those rows
    and re-inject the partition column."""
    from pyspark.sql import functions as F

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        export_iceberg_dir,
        read_exported_table,
    )

    sch = T.StructType.fromDDL("id long, seg string, amount double")
    cat = Catalog(tmp_path / "wh_eqp")
    t = cat.create_table(
        "d", "eqp", sch, partition_by=["seg"],
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.append(spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(10)], sch))
    dele = spark.createDataFrame(
        [(3, "b", 0.0), (4, "a", 0.0)], sch).withColumn("Op", F.lit("D"))
    merge_into(
        spark, t, dele, on=["id", "seg"], delete_predicate="Op = 'D'")
    assert t.current_snapshot().operation == "merge"
    assert t.current_snapshot().delete_files

    engine = sorted(
        tuple(r[c] for c in ("id", "seg", "amount"))
        for r in t.read(spark).collect()
    )
    assert {r[0] for r in engine} == set(range(10)) - {3, 4}

    dest = export_iceberg_dir(t, tmp_path / "exp_eqp")
    pdf = read_exported_table(dest)
    ext = sorted(
        tuple(pdf[c][i] for c in ("id", "seg", "amount"))
        for i in range(len(pdf))
    )
    assert ext == engine
    assert sorted(_duckdb_spec_rows(dest, ["id", "seg", "amount"])) == engine


def test_external_reader_eq_delete_on_float_partition(spark, tmp_path):
    """Float identity-partition + a merge-on-read MERGE keyed on it:
    the matched rows are position-deleted, and the spec readers
    re-inject the float32 partition value (0.1 is not representable,
    so a float64 or string injection would not compare equal)."""
    from pyspark.sql import functions as F

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.iceberg_compat import (
        export_iceberg_dir,
        read_exported_table,
    )

    sch = T.StructType.fromDDL("id long, fseg float, amount double")
    cat = Catalog(tmp_path / "wh_eqf")
    t = cat.create_table(
        "d", "eqf", sch, partition_by=["fseg"],
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.append(spark.createDataFrame(
        [(i, [0.1, 0.2][i % 2], float(i)) for i in range(10)], sch))
    dele = spark.createDataFrame(
        [(3, 0.2, 0.0), (4, 0.1, 0.0)], sch).withColumn("Op", F.lit("D"))
    merge_into(
        spark, t, dele, on=["id", "fseg"], delete_predicate="Op = 'D'")
    assert t.current_snapshot().operation == "merge"
    assert t.current_snapshot().delete_files

    engine = sorted(
        (r["id"], round(float(r["fseg"]), 6), r["amount"])
        for r in t.read(spark).collect()
    )
    assert {r[0] for r in engine} == set(range(10)) - {3, 4}

    dest = export_iceberg_dir(t, tmp_path / "exp_eqf")
    pdf = read_exported_table(dest)
    ext = sorted(
        (pdf["id"][i], round(float(pdf["fseg"][i]), 6), pdf["amount"][i])
        for i in range(len(pdf))
    )
    assert ext == engine
    duck = sorted(
        (i, round(float(f), 6), a)
        for i, f, a in _duckdb_spec_rows(dest, ["id", "fseg", "amount"])
    )
    assert duck == engine
