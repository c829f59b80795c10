"""Merge-on-read mode + compaction tests."""

from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
    merge_into,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("state", T.StringType()),
    ]
)


def make(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_mor_merge_append_only_and_resolve(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t", SCHEMA, partition_by=["state"],
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.append(make(spark, [(1, "a", "SC"), (2, "b", "CT")]))
    files_before = set(t.current_snapshot().files)

    merge_into(spark, t, make(spark, [(1, "a2", "SC"), (3, "c", "PW")]), on="id")
    snap = t.current_snapshot()
    # MOR: no base file rewritten; the matched row is position-deleted
    # and the upserts land as new files in the same merge snapshot
    assert files_before <= set(snap.files)
    assert snap.operation == "merge"
    assert snap.removed_files == []
    assert len(snap.delete_files) >= 1

    rows = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {1: "a2", 2: "b", 3: "c"}


def test_mor_delete_and_second_merge(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t2", SCHEMA, properties={"write.merge.mode": "merge-on-read"}
    )
    t.append(make(spark, [(1, "a", "SC"), (2, "b", "CT")]))
    src = spark.createDataFrame(
        [("D", 1, None, None), ("U", 2, "b2", "CT")],
        "Op string, id long, v string, state string",
    )
    merge_into(spark, t, src, on="id", delete_predicate="Op = 'D'")
    first = t.current_snapshot()
    assert first.operation == "merge" and first.removed_files == []
    assert len(first.delete_files) >= 1
    rows = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {2: "b2"}
    # the second merge deletes the first merge's upsert by position
    # and re-inserts the deleted key
    merge_into(spark, t, make(spark, [(2, "b3", "CT"), (1, "back", "SC")]), on="id")
    snap = t.current_snapshot()
    assert snap.operation == "merge" and snap.removed_files == []
    assert len(snap.delete_files) > len(first.delete_files)
    rows = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {1: "back", 2: "b3"}


def test_compact_resolves_deltas_and_merges_files(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "t3", SCHEMA, properties={"write.merge.mode": "merge-on-read"}
    )
    t.append(make(spark, [(1, "a", "SC"), (2, "b", "CT")]))
    merge_into(spark, t, make(spark, [(1, "a2", "SC")]), on="id")
    mor = t.current_snapshot()
    assert mor.operation == "merge" and mor.removed_files == []
    assert mor.delete_files

    t.compact(spark, target_partitions=1)
    snap = t.current_snapshot()
    assert snap.operation == "replace"
    assert not snap.delete_files  # pure base files again
    rows = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {1: "a2", 2: "b"}
    # post-compact reads are plain scans; time travel to the MOR
    # snapshot still applies its position deletes
    assert mor.snapshot_id == 3
    assert {r["id"]: r["v"] for r in t.read(spark, snapshot_id=3).collect()} == {
        1: "a2",
        2: "b",
    }


def test_compact_small_files_append_table(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t4", SCHEMA)
    for i in range(5):
        t.append(make(spark, [(i, "x", "SC")]))
    n_before = len(t.current_snapshot().files)
    t.compact(spark, target_partitions=1)
    assert len(t.current_snapshot().files) < n_before
    assert t.read(spark).count() == 5


def _cdc_sequence(seed):
    """Base rows plus 4 CDC batches over a composite (region, id) key:
    each batch updates two live keys, deletes one (``Op = 'D'``),
    inserts a fresh key and, from the second batch on, re-inserts a
    key an earlier batch deleted. One row per key per batch."""
    import random

    rng = random.Random(seed)
    regions = ["a:b", "x", "y"]  # 'a:b' is escaped on disk
    base = [(r, i, f"b{i}", float(i)) for r in regions for i in range(4)]
    live = {(r, i) for r, i, _, _ in base}
    deleted, fresh, batches = [], 100, []
    for b in range(4):
        upd1, upd2, gone = rng.sample(sorted(live), 3)
        rows = [
            ("U", *upd1, f"u{b}", round(rng.random(), 3)),
            ("U", *upd2, f"u{b}", round(rng.random(), 3)),
            ("D", *gone, None, None),
            ("I", rng.choice(regions), fresh, f"i{b}", round(rng.random(), 3)),
        ]
        live.discard(gone)
        live.add(rows[3][1:3])
        if deleted:
            back = deleted.pop(0)
            rows.append(("I", *back, f"back{b}", round(rng.random(), 3)))
            live.add(back)
        deleted.append(gone)
        fresh += 1
        batches.append(rows)
    return base, batches


def test_cow_and_mor_merge_agree(spark, tmp_path):
    """Both-ways check of MERGE's two write modes and of the two
    partitioned-write distributions: one seeded CDC sequence
    (upserts, deletes through delete_predicate, a re-insert of a
    deleted key, a composite key, an identity partition with an
    escaped value) applied to a copy-on-write twin (hash distribution,
    the default), a copy-on-write twin with
    ``write.distribution-mode=none`` and a merge-on-read twin leaves
    identical rows and COUNT(*) after every batch, and identical
    changelog and post-compaction rows at the end. Frames are
    Arrow-built (local_frame) so no Python worker runs."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.session import (
        local_frame,
    )

    sch = T.StructType.fromDDL(
        "region string, id long, v string, amount double"
    )
    keys = ["region", "id"]
    base, batches = _cdc_sequence(seed=11)
    cat = Catalog(tmp_path / "wh")
    twins = {
        "cow": {"write.merge.mode": "copy-on-write"},
        "cow_none": {
            "write.merge.mode": "copy-on-write",
            "write.distribution-mode": "none",
        },
        "mor": {"write.merge.mode": "merge-on-read"},
    }
    cow, cow_none, mor = (
        cat.create_table("d", name, sch, partition_by=["region"], properties=props)
        for name, props in twins.items()
    )
    tables = (cow, cow_none, mor)
    # every task holds every region, so the distributions differ
    for t in tables:
        t.append(local_frame(spark, base, sch).repartition(4))
    assert len(cow.current_snapshot().files) == 3
    assert len(cow_none.current_snapshot().files) > 3
    start = [t.current_snapshot().snapshot_id for t in tables]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for batch in batches:
        src = local_frame(
            spark, batch,
            "Op string, region string, id long, v string, amount double",
        )
        for t in tables:
            merge_into(spark, t, src, on=keys, delete_predicate="Op = 'D'")
        snap = mor.current_snapshot()
        assert snap.operation == "merge" and snap.removed_files == []
        live = rows(cow.read(spark))
        assert [rows(t.read(spark)) for t in (cow_none, mor)] == [live] * 2
        assert [
            t.metadata_aggregate(spark, count_alias="n").collect()[0]["n"]
            for t in tables
        ] == [len(live)] * 3
    assert mor.current_snapshot().delete_files

    changes = [
        rows(t.changelog(spark, s, keys=keys)) for t, s in zip(tables, start)
    ]
    assert changes[0] and changes[1:] == [changes[0]] * 2

    for t in tables:
        t.compact(spark)
    assert not mor.current_snapshot().delete_files
    compacted = [rows(t.read(spark)) for t in tables]
    assert compacted[1:] == [compacted[0]] * 2
