"""Hive partition-path escaping fidelity and the pruning paths that
depend on it (ADVICE r01: merge pruning and gold incremental refresh
compared raw values against escaped directory names)."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
    merge_into,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.transforms import (
    escape_path_name,
    partition_segment,
    partition_values,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline import (
    build_gold_mart,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.session import (
    scan_files,
)

SCHEMA = T.StructType(
    [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
)

NASTY = ["a:b", "x#y", "p%q", "c=d", "e f", "g'h", "i[j]", "plain"]


def test_escape_matches_spark_writer(spark, tmp_path):
    """Our escape twin must reproduce the exact directory names the
    Spark partitioned writer creates — byte for byte."""
    df = spark.createDataFrame([(k, 1) for k in NASTY + [None]], SCHEMA)
    out = tmp_path / "pq"
    df.write.partitionBy("k").parquet(str(out))
    on_disk = {p.name for p in out.iterdir() if p.name.startswith("k=")}
    expected = {f"k={escape_path_name(k)}" for k in NASTY}
    assert on_disk == expected | {"k=__HIVE_DEFAULT_PARTITION__"}
    # and partition_values inverts what the writer produced (the null
    # partition reads back as None) and what partition_segment builds
    assert {
        partition_values(f"{d}/f.parquet")["k"] for d in on_disk
    } == set(NASTY) | {None}
    for k in NASTY:
        seg = partition_segment("k", k)
        assert partition_values(f"{seg}/f.parquet") == {"k": k}


def test_partition_segment_safety():
    import datetime

    assert partition_segment("k", "a:b") == "k=a%3Ab"
    assert partition_segment("k", 7) == "k=7"
    assert partition_segment("k", True) == "k=true"
    assert partition_segment("k", datetime.date(2024, 1, 2)) == "k=2024-01-02"
    # unreproducible written forms must disable pruning, not guess
    assert partition_segment("k", None) is None
    assert partition_segment("k", "") is None
    assert partition_segment("k", 1.5) is None
    assert (
        partition_segment("k", datetime.datetime(2024, 1, 2, 3, 4, 5, 6)) is None
    )


def test_merge_handles_escaped_partition_keys(spark, tmp_path):
    """MERGE on a string key containing ':' in a key-partitioned
    table: before the fix the pruning compared 'k=a:b' against the
    escaped dir 'k=a%3Ab', skipped the file, and left the stale row
    behind (duplicate keys)."""
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t", SCHEMA, partition_by=["k"])
    t.append(
        spark.createDataFrame([("a:b", 1), ("x#y", 2), ("plain", 3)], SCHEMA)
    )
    merge_into(
        spark, t, spark.createDataFrame([("a:b", 10)], SCHEMA), on="k"
    )
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {"a:b": 10, "x#y": 2, "plain": 3}
    assert t.read(spark).count() == 3  # no duplicate keys


def test_gold_incremental_keeps_null_group(spark, tmp_path):
    """NULL-keyed mart rows must survive an incremental refresh
    (~isin is NULL for them, which used to drop the null group)."""
    cat = Catalog(tmp_path / "wh")
    silver = cat.create_table("s", "silver", SCHEMA, partition_by=["k"])
    silver.append(
        spark.createDataFrame([("a", 1), ("b", 2), (None, 5)], SCHEMA)
    )
    aggs = {"n": ("*", "count"), "total": ("v", "sum")}
    build_gold_mart(spark, cat, "s", "silver", "gold", ["k"], aggs)

    def mart():
        return {
            r["k"]: (r["n"], r["total"])
            for r in cat.table("s", "gold").read(spark).collect()
        }

    assert mart()[None] == (1, 5.0)
    # touch only partition 'a' -> incremental path; null group must stay
    merge_into(
        spark, silver, spark.createDataFrame([("a", 100)], SCHEMA), on="k"
    )
    status = build_gold_mart(spark, cat, "s", "silver", "gold", ["k"], aggs)
    assert status["mode"].startswith("incremental")
    m = mart()
    assert m[None] == (1, 5.0)
    assert m["a"] == (1, 100.0)
    assert m["b"] == (1, 2.0)


def test_gold_null_partition_change_falls_back_to_full(spark, tmp_path):
    """A batch that touches the __HIVE_DEFAULT_PARTITION__ directory
    cannot be expressed as a value filter -> full refresh."""
    cat = Catalog(tmp_path / "wh")
    silver = cat.create_table("s", "silver", SCHEMA, partition_by=["k"])
    silver.append(spark.createDataFrame([("a", 1), (None, 5)], SCHEMA))
    aggs = {"n": ("*", "count"), "total": ("v", "sum")}
    build_gold_mart(spark, cat, "s", "silver", "gold", ["k"], aggs)
    silver.append(
        spark.createDataFrame([(None, 7)], SCHEMA).withColumn(
            "k", F.lit(None).cast("string")
        )
    )
    status = build_gold_mart(spark, cat, "s", "silver", "gold", ["k"], aggs)
    assert status["mode"] == "full"
    got = {
        r["k"]: (r["n"], r["total"])
        for r in cat.table("s", "gold").read(spark).collect()
    }
    assert got[None] == (2, 12.0)


def test_mor_resolve_with_escaped_partition_keys(spark, tmp_path):
    """A merge-on-read MERGE on an escaped partition value: discovery
    pruning and the position deletes must reach the escaped dir."""
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "d", "mor", SCHEMA, partition_by=["k"],
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.append(spark.createDataFrame([("a:b", 1), ("plain", 2)], SCHEMA))
    merge_into(
        spark, t, spark.createDataFrame([("a:b", 10)], SCHEMA), on="k"
    )
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {"a:b": 10, "plain": 2}


def _dirs(files):
    """The partition directories (below the table's data root) of the
    data files a planned scan selects."""
    return {f.rsplit("/data/", 1)[1].rsplit("/", 1)[0] for f in files}


def test_delete_update_partition_pruning(spark, tmp_path):
    """A partition-scoped scan reads only the matching partitions'
    files, and a partition-scoped DELETE/UPDATE discovers against only
    those (VERDICT r02 #6): Catalyst prunes identity partitions at the
    scan, the files its numFiles metric counts (``scan_files``)."""
    cat = Catalog(tmp_path / "wh")
    cat.create_namespace("ns")
    sc = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("day", T.LongType()),
            T.StructField("v", T.LongType()),
        ]
    )
    t = cat.create_table("ns", "ev", sc, partition_by=["event_type", "day"])
    rows = [(et, d, i) for i, (et, d) in enumerate(
        [(a, b) for a in ["click", "error", "buy"] for b in [1, 2]]
    )]
    t.append(spark.createDataFrame(rows, sc))
    files = t.current_snapshot().files
    assert len({f.rsplit("/", 1)[0] for f in files}) == 6

    def scanned(cond):
        return _dirs(scan_files(t.scan(spark, cond)))

    # single-col equality: only error partitions are read
    assert scanned("event_type = 'error' AND v >= 0") == {
        "event_type=error/day=1", "event_type=error/day=2"
    }
    # conjunct on both partition cols
    assert scanned("event_type = 'error' AND day = 2") == {
        "event_type=error/day=2"
    }
    # non-partition-only predicate: nothing pruned
    assert scanned("v = 3 OR event_type = 'x'") == _dirs(
        scan_files(t.read(spark))
    )
    assert len(scanned("v = 3 OR event_type = 'x'")) == 6
    # IN-list and function-of-partition-col conjuncts evaluate exactly
    assert {d.split("/")[0] for d in scanned(
        "upper(event_type) IN ('CLICK', 'BUY')"
    )} == {"event_type=click", "event_type=buy"}
    # a run's numFiles metric counts the same files
    cond = "event_type = 'error' AND day = 2"
    assert len(scan_files(t.scan(spark, cond))) == 1
    df = t.scan(spark, cond)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    assert "PartitionFilters: [isnotnull(event_type" in plan.toString()
    leaves = plan.collectLeaves()
    assert sum(
        leaves.apply(i).metrics().apply("numFiles").value()
        for i in range(leaves.size())
    ) == 1

    # end-to-end: the delete snapshot only rewrites error files
    t.delete_where(spark, "event_type = 'error' AND v >= 0")
    snap = t.current_snapshot()
    assert snap.operation == "delete"
    assert snap.removed_files and all(
        "event_type=error" in f for f in snap.removed_files
    )
    got = {(r["event_type"], r["day"]) for r in t.read(spark).collect()}
    assert got == {("click", 1), ("click", 2), ("buy", 1), ("buy", 2)}


def test_partition_pruning_null_and_nasty_values(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    cat.create_namespace("ns")
    t = cat.create_table("ns", "t", SCHEMA, partition_by=["k"])
    t.append(
        spark.createDataFrame(
            [(k, i) for i, k in enumerate(NASTY)] + [(None, 99)], SCHEMA
        )
    )
    # IS NULL reads exactly the default partition
    assert _dirs(scan_files(t.scan(spark, "k IS NULL"))) == {
        "k=__HIVE_DEFAULT_PARTITION__"
    }
    # equality on an escaped value resolves through unescaping, and
    # the null partition cannot satisfy it
    kept = t.scan(spark, "k = 'c=d'")
    assert _dirs(scan_files(kept)) == {partition_segment("k", "c=d")}
    assert {r["v"] for r in kept.collect()} == {3}
    # update through the pruned path stays correct
    t.update_where(spark, {"v": "v + 100"}, "k = 'p%q'")
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got["p%q"] == 102 and got["a:b"] == 0


def test_nondeterministic_predicate_prunes_no_partition(spark, tmp_path):
    """``rand() < 0.5`` is drawn per row, never once per partition: a
    scan under it keeps rows of every partition (each of 8 holds 100
    rows, so a partition loses all of them with probability 2^-100)."""
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("ns", "t", SCHEMA, partition_by=["k"])
    t.append(
        spark.createDataFrame(
            [(f"p{i % 8}", i) for i in range(800)], SCHEMA
        )
    )
    got = {r["k"] for r in t.scan(spark, "rand() < 0.5").collect()}
    assert got == {f"p{i}" for i in range(8)}


def test_merge_prune_collect_is_capped(spark, tmp_path, monkeypatch):
    """High-cardinality partition keys skip pruning instead of
    collecting every distinct value to the driver (VERDICT r02 #7)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
        merge as merge_mod,
    )

    cat = Catalog(tmp_path / "wh")
    cat.create_namespace("ns")
    t = cat.create_table("ns", "t", SCHEMA, partition_by=["k"])
    t.append(
        spark.createDataFrame([(f"k{i}", i) for i in range(8)], SCHEMA)
    )
    src = spark.createDataFrame(
        [(f"k{i}", i * 10) for i in range(6)], SCHEMA
    )
    monkeypatch.setattr(merge_mod, "PRUNE_MAX_VALUES", 3)
    merge_into(spark, t, src, on=["k"])
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {f"k{i}": (i * 10 if i < 6 else i) for i in range(8)}


def test_hash_distribution_mode_collapses_small_files(spark, tmp_path):
    """write.distribution-mode=hash — also the default when a
    partitioned table leaves the property unset — clusters rows by
    partition value before the write, so an N-task append to a
    partitioned table produces ~1 file per partition instead of
    tasks x partitions; ``none`` keeps the per-task layout."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
        Catalog,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("state", T.StringType())]
    )
    rows = [(i, ["SC", "CT", "PW"][i % 3]) for i in range(300)]
    # many input partitions: every task holds rows of every state
    df = spark.createDataFrame(rows, schema).repartition(8)

    cat = Catalog(tmp_path / "wh")
    n_files = {}
    for name, props in (
        ("spread", {"write.distribution-mode": "none"}),
        ("packed", {"write.distribution-mode": "hash"}),
        ("unset", {}),
    ):
        t = cat.create_table(
            "d", name, schema, partition_by=["state"], properties=props
        )
        t.append(df)
        n_files[name] = len(t.current_snapshot().files)
        assert {r["state"] for r in t.read(spark).collect()} == {"SC", "CT", "PW"}
        assert t.read(spark).count() == 300

    assert n_files["spread"] > 3  # the explosion the mode exists to prevent
    assert n_files["packed"] == 3  # one file per partition value
    assert n_files["unset"] == 3  # unset means hash on a partitioned table


def test_merge_on_read_scan_prunes_partitions(spark, tmp_path):
    # live position deletes attach each row's file and position to the
    # read; the scan still prunes the other partitions
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "ns", "t", SCHEMA, partition_by=["k"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.createDataFrame([("a", 1), ("b", 2), ("a", 3)], SCHEMA))
    t.delete_where(spark, "v = 3")
    assert t.current_snapshot().delete_files
    kept = t.scan(spark, "k = 'a'")
    assert {d for d in _dirs(scan_files(kept)) if d.startswith("k=")} == {
        "k=a"
    }
    assert [(r["k"], r["v"]) for r in kept.collect()] == [("a", 1)]


def test_partitioned_reads_keep_declared_column_order(spark, tmp_path):
    # the file source returns partition columns last; every read path
    # answers in the declared order, attach columns after it
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table(
        "ns", "t", SCHEMA, partition_by=["k"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.createDataFrame([("a", 1), ("b", 2), ("a", 3)], SCHEMA))
    assert t.read(spark).columns == ["k", "v"]
    assert t.scan(spark, "v > 1").columns == ["k", "v"]
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        ("a", 1), ("a", 3), ("b", 2)
    ]
    sess = cat.sql_session(spark, "ns")
    assert sess.sql("SELECT * FROM t").columns == ["k", "v"]
    assert sess.sql("SELECT * FROM t WHERE v = 2").collect() == [("b", 2)]
    t.delete_where(spark, "v = 3")
    snap = t.current_snapshot()
    assert t._read_live(spark, snap, keep_pos=True).columns == [
        "k", "v", t.POS_FILE_COL, t.POS_POS_COL
    ]
    assert [tuple(r) for r in t.read(spark).orderBy("v").collect()] == [
        ("a", 1), ("b", 2)
    ]
