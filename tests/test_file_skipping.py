"""Manifest-level file skipping on per-file column stats: the scan
planner must drop files whose footer-derived min/max cannot contain a
matching row — before any data file is opened — and row-level
DELETE/UPDATE discovery must rewrite only stats-admissible files.
"""

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
)


def _mk(spark, tmp_path, rows, schema="k long, v double"):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "t", spark.createDataFrame([], schema).schema)
    files = []
    for chunk in rows:
        snap = t.append(spark.createDataFrame(chunk, schema).coalesce(1))
        files.append(snap.added_files)
    return t, files


def test_stats_recorded_on_append(spark, tmp_path):
    t, files = _mk(spark, tmp_path, [[(1, 1.5), (10, 2.5)]])
    (f,) = files[0]
    st = t.current_snapshot().stats[f]
    assert st["k"][:2] == ["1", "10"]
    assert st["v"][:2] == ["1.5", "2.5"]
    assert st["k"][2] == 0 and st["k"][3] == 2  # nulls, rows


def test_prune_by_stats_ranges(spark, tmp_path):
    t, files = _mk(
        spark,
        tmp_path,
        [
            [(i, float(i)) for i in range(100)],
            [(i, float(i)) for i in range(100, 200)],
            [(i, float(i)) for i in range(200, 300)],
        ],
    )
    all_files = t.current_snapshot().files
    f1, f2, f3 = files[0][0], files[1][0], files[2][0]

    assert t._prune_files_by_stats(spark, all_files, "k = 150") == [f2]
    assert t._prune_files_by_stats(spark, all_files, "k > 250") == [f3]
    assert set(t._prune_files_by_stats(spark, all_files, "150 <= k")) == {f2, f3}
    assert t._prune_files_by_stats(spark, all_files, "k >= 100 AND k < 200") == [f2]
    assert t._prune_files_by_stats(spark, all_files, "v < 50.0") == [f1]
    # unsupported conjunct alone: conservative keep-all
    assert t._prune_files_by_stats(spark, all_files, "k % 2 = 0") == all_files
    # unsupported AND supported: the supported one still prunes
    assert t._prune_files_by_stats(spark, all_files, "k % 2 = 0 AND k = 7") == [f1]
    # a column-vs-column comparison must never be treated as literal
    assert t._prune_files_by_stats(spark, all_files, "k = v") == all_files


def test_all_null_file_pruned_for_comparisons(spark, tmp_path):
    t, files = _mk(
        spark,
        tmp_path,
        [[(1, None), (2, None)], [(3, 7.0)]],
    )
    all_files = t.current_snapshot().files
    f2 = files[1][0]
    assert t._prune_files_by_stats(spark, all_files, "v = 7.0") == [f2]
    assert t._prune_files_by_stats(spark, all_files, "v < 100.0") == [f2]


def test_delete_rewrites_only_admissible_files(spark, tmp_path):
    t, files = _mk(
        spark,
        tmp_path,
        [
            [(i, float(i)) for i in range(100)],
            [(i, float(i)) for i in range(100, 200)],
            [(i, float(i)) for i in range(200, 300)],
        ],
    )
    f1, f3 = files[0][0], files[2][0]
    snap = t.delete_where(spark, "k = 150")
    assert snap.removed_files == [files[1][0]]
    assert f1 in snap.files and f3 in snap.files
    assert t.read(spark).count() == 299
    assert t.read(spark).filter("k = 150").count() == 0


def test_scan_prunes_and_matches_full_read(spark, tmp_path):
    t, files = _mk(
        spark,
        tmp_path,
        [
            [(i, float(i)) for i in range(100)],
            [(i, float(i)) for i in range(100, 200)],
        ],
    )
    got = {r["k"] for r in t.scan(spark, "k >= 150 AND k < 160").collect()}
    assert got == set(range(150, 160))
    # and the planner really dropped the first file
    kept = t._prune_files_by_stats(
        spark, t.current_snapshot().files, "k >= 150 AND k < 160"
    )
    assert kept == [files[1][0]]


def test_timestamp_stats_prune(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    base = dt.datetime(2024, 1, 1)
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "ts_t", schema)
    fs = []
    for day in (1, 10):
        snap = t.append(
            spark.createDataFrame(
                [(day, base.replace(day=day)), (day + 1, base.replace(day=day + 1))],
                schema,
            ).coalesce(1)
        )
        fs.append(snap.added_files[0])
    kept = t._prune_files_by_stats(
        spark, t.current_snapshot().files, "ts >= TIMESTAMP '2024-01-05 00:00:00'"
    )
    assert kept == [fs[1]]


def test_prune_by_stats_skips_nonliteral_sides(spark, tmp_path):
    # rand() would be drawn once per file while planning: a file whose
    # minimum beats that draw would be dropped although the scan draws
    # again per row, so only a literal side may prune
    t, files = _mk(spark, tmp_path, [[(i, float(i))] for i in range(8)])
    all_files = t.current_snapshot().files
    assert t._prune_files_by_stats(spark, all_files, "k < rand()") == all_files
    assert t._prune_files_by_stats(spark, all_files, "rand() > k") == all_files
    # literal sides still prune: signed, CAST, parenthesised
    assert t._prune_files_by_stats(spark, all_files, "k = -1") == []
    assert set(
        t._prune_files_by_stats(spark, all_files, "k >= CAST('6' AS BIGINT)")
    ) == {files[6][0], files[7][0]}
    assert set(t._prune_files_by_stats(spark, all_files, "v < (1.5)")) == {
        files[0][0], files[1][0]
    }


def test_clock_and_column_sides_keep_every_file(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("d", "clock_t", schema)
    for year in (2001, 2002):
        t.append(
            spark.createDataFrame(
                [(year, dt.datetime(year, 1, 1))], schema
            ).coalesce(1)
        )
    all_files = t.current_snapshot().files
    for cond in (
        "ts > current_timestamp()",
        "current_timestamp() < ts",
        "ts >= now() AND k > 0",
        "k > ts",
        "k = k",
    ):
        assert t._prune_files_by_stats(spark, all_files, cond) == all_files, cond
    # a typed literal on the same column still prunes
    assert t._prune_files_by_stats(
        spark, all_files, "ts > TIMESTAMP '2001-06-01 00:00:00'"
    ) == [t.current_snapshot().added_files[0]]


def _stats_only_table(tmp_path, schema, stats, files):
    """A table handle and a snapshot that carries only ``stats``: the
    stats step reads nothing else, so manifests of any shape can be
    made by hand."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.table import (
        Snapshot,
        Table,
    )

    snap = Snapshot(
        version=1, snapshot_id=1, parent_id=None, timestamp_ms=0,
        operation="append", files=files, added_files=files,
        removed_files=[], schema_json=schema.json(), partition_by=[],
        properties={}, stats=stats,
    )
    return Table(tmp_path / "t"), snap


def test_integer_conjuncts_equal_spark_statement(spark, tmp_path):
    """Both ways: the driver's integer decision and Spark's statement
    over the same bounds keep the same files, in the same order, over
    seeded random manifests with negative, zero and long bounds,
    all-null files, files without stats or without an entry for the
    column, corrupted bounds, all six operators in both orientations,
    and literals inside, at and past the bounds and the long range."""
    import random

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.table import (
        _STATS_TYPES,
        _literal_comparisons,
        _prune_by_statement,
    )

    schema = T.StructType(
        [
            T.StructField("b", T.ByteType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("l", T.LongType()),
            T.StructField("d", T.DoubleType()),
        ]
    )
    big = 2**63
    limits = {"b": 2**7, "i": 2**31, "l": big}
    rng = random.Random(20261020)

    def bound_pair(col):
        half = limits[col]
        pick = rng.random()
        if pick < 0.1:
            return [None, None]  # all-null file
        if pick < 0.15:
            return ["12abc", str(rng.randint(0, 50))]
        if pick < 0.2 and col == "i":
            return [str(rng.randint(-50, 0)), "99999999999"]
        if pick < 0.3:
            return [str(-half), str(half - 1)]
        lo = rng.choice([-half, -1000, -7, 0, 3, half - 10])
        lo = max(-half, lo + rng.randint(0, 5))
        return [str(lo), str(min(half - 1, lo + rng.randint(0, 20)))]

    def reference(snap, files, cond):
        comps = [
            c for c in _literal_comparisons(cond, schema.fields)
            if isinstance(c[0].dataType, _STATS_TYPES)
        ]
        if not comps:
            return files
        passthrough = [f for f in files if snap.stats.get(f) is None]
        rest = [f for f in files if snap.stats.get(f) is not None]
        return passthrough + _prune_by_statement(spark, snap, rest, comps)

    ops = ["=", "!=", "<>", "<", "<=", ">", ">="]
    checked = 0
    for _ in range(4):
        files = [f"f{j:02d}.parquet" for j in range(12)]
        stats = {}
        for f in files:
            if rng.random() < 0.15:
                continue  # no stats entry at all
            st = {":rows:": 10, ":stats_version:": 2}
            for col in ("b", "i", "l"):
                if rng.random() < 0.9:
                    st[col] = bound_pair(col) + [0, 10]
            lo = rng.uniform(-5, 5)
            st["d"] = [repr(lo), repr(lo + 1.0), 0, 10]
            stats[f] = st
        t, snap = _stats_only_table(tmp_path, schema, stats, files)
        for _ in range(25):
            col = rng.choice(["b", "i", "l"])
            ent = next(
                (st[col] for st in stats.values()
                 if col in st and st[col][0] not in (None, "12abc")),
                ["0", "0"],
            )
            v = rng.choice([
                int(ent[0]), int(ent[1]), int(ent[0]) - 1, int(ent[1]) + 1,
                0, -1, big, -big - 1, 10**20, -(10**20), limits[col],
            ])
            op = rng.choice(ops)
            cond = (
                f"{col} {op} {v}" if rng.random() < 0.5 else f"{v} {op} {col}"
            )
            if rng.random() < 0.3:
                cond += f" AND d {rng.choice(ops)} {rng.uniform(-6, 6):.3f}"
            got = t._prune_files_by_stats(spark, files, cond, snapshot=snap)
            assert got == reference(snap, files, cond), cond
            checked += 1
    assert checked == 100


def test_integer_lookup_plans_with_no_statement(spark, tmp_path, sql_calls):
    """``k = -1`` over integral stats is decided on the driver: planning
    it runs no Spark statement, and a typed conjunct beside it is still
    one statement, over the files the integer conjunct kept."""
    t, files = _mk(
        spark,
        tmp_path,
        [[(i, float(i)) for i in range(lo, lo + 10)] for lo in (0, 10, 20)],
    )
    snap = t.current_snapshot()
    calls = sql_calls()
    assert t._plan_files(spark, snap, "k = -1") == []
    assert t._plan_files(spark, snap, "k >= 10 AND 20 > k") == files[1]
    assert calls == []
    assert t._plan_files(spark, snap, "k >= 10 AND v < 25.0") == (
        files[1] + files[2]
    )
    assert len(calls) == 1
