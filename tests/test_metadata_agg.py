"""Metadata-only aggregation (Iceberg aggregate pushdown twin).

The contract under test: ``Table.metadata_aggregate`` answers
COUNT(*)/MIN/MAX/COUNT(col) purely from manifest statistics — proven
by DELETING the data file bytes before querying — and refuses
(``MetadataAggregateUnsupported``) in every state where stats cannot
be exact: position deletes (except COUNT(*)), missing stats entries,
stats-ineligible types, non-constant group columns.
"""

import datetime
import os
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.table import (
    MetadataAggregateUnsupported,
)


def _frame(spark):
    rows = [
        Row(k="a", v=10, price=1.5, d=datetime.date(2024, 1, 3)),
        Row(k="a", v=None, price=-2.25, d=datetime.date(2024, 1, 1)),
        Row(k="b", v=7, price=99.125, d=None),
        Row(k="b", v=42, price=0.0, d=datetime.date(2024, 2, 1)),
        Row(k=None, v=5, price=3.5, d=datetime.date(2023, 12, 31)),
    ]
    return spark.createDataFrame(
        rows, "k string, v int, price double, d date"
    )


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def test_matches_scan_and_survives_data_loss(spark, cat):
    df = _frame(spark)
    t = cat.create_table("m", "t", df.schema, partition_by=["k"])
    t.append(df.where("v is null or v <= 10"))
    t.append(df.where("v > 10"))  # two snapshots, several files

    expected = {
        (r["k"], r["cnt"], r["nn_v"], r["min_p"], r["max_p"], r["min_d"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("v").alias("nn_v"),
            F.min("price").alias("min_p"),
            F.max("price").alias("max_p"),
            F.min("d").alias("min_d"),
        )
        .collect()
    }

    # the proof: wipe every data byte — only manifests remain
    for f in t.current_snapshot().files:
        os.remove(t.data_root / f)

    got = t.metadata_aggregate(
        spark,
        group_by=["k"],
        count_alias="cnt",
        count_of={"v": "nn_v"},
        min_of={"price": "min_p", "d": "min_d"},
        max_of={"price": "max_p"},
    )
    assert got.columns == ["k", "cnt", "min_p", "min_d", "max_p", "nn_v"]
    assert {
        (r["k"], r["cnt"], r["nn_v"], r["min_p"], r["max_p"], r["min_d"])
        for r in got.collect()
    } == expected


def test_global_aggregate_and_empty_table(spark, cat):
    df = _frame(spark)
    t = cat.create_table("m", "g", df.schema)
    t.append(df)
    row = t.metadata_aggregate(
        spark, count_alias="n", min_of={"v": "lo"}, max_of={"v": "hi"}
    ).collect()[0]
    assert (row["n"], row["lo"], row["hi"]) == (5, 5, 42)

    empty = cat.create_table("m", "e", df.schema)
    row = empty.metadata_aggregate(
        spark, count_alias="n", min_of={"v": "lo"}
    ).collect()[0]
    assert row["n"] == 0 and row["lo"] is None


def test_group_by_stats_constant_without_partitioning(spark, cat):
    # files written per-group but NOT partition-pathed: the grouper
    # falls back to the constant [min==max, null-free] stats range
    df = spark.createDataFrame(
        [(g, i) for g in (1, 2) for i in range(3)], "g int, x int"
    )
    t = cat.create_table("m", "c", df.schema)
    for g in (1, 2):
        t.append(df.where(F.col("g") == g).repartition(1))
    got = {
        (r["g"], r["cnt"], r["hi"])
        for r in t.metadata_aggregate(
            spark, group_by=["g"], count_alias="cnt", max_of={"x": "hi"}
        ).collect()
    }
    assert got == {(1, 3, 2), (2, 3, 2)}
    # x is NOT file-constant -> refuse
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, group_by=["x"], count_alias="cnt")
    # mixed-group file -> refuse
    t.append(df.repartition(1))
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, group_by=["g"], count_alias="cnt")


def test_refusals(spark, cat):
    df = _frame(spark)
    t = cat.create_table("m", "r", df.schema, partition_by=["k"])
    # one file per partition, so k=a holds two distinct prices
    t.append(df.repartition(1))
    # string min/max: stats-ineligible by design (truncation hazard)
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, min_of={"k": "lo"})
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, min_of={"nope": "lo"})
    # non-constant, non-partition group column
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, group_by=["price"], count_alias="c")
    with pytest.raises(ValueError):
        t.metadata_aggregate(spark, count_alias=None)  # nothing to do

    # position deletes: COUNT(*) stays exact from the manifest's
    # per-target delete counts; anything touching column stats bails
    t.delete_where(spark, "v = 42", mode="merge-on-read")
    assert (
        t.metadata_aggregate(spark, count_alias="c").collect()[0]["c"] == 4
    )
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, count_alias="c", min_of={"v": "lo"})
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, count_alias="c", count_of={"v": "nv"})


def test_refuses_on_merge_delta(spark, cat):
    # a merge-on-read MERGE position-deletes the matched row and
    # appends its upsert: COUNT(*) stays an exact manifest fold,
    # column stats still bail (the deleted row is in the stats)
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
        merge_into,
    )

    df = _frame(spark).where("v is not null")
    t = cat.create_table(
        "m", "d", df.schema,
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.append(df)
    merge_into(
        spark, t,
        spark.createDataFrame(
            [Row(k="z", v=7, price=1.0, d=datetime.date(2024, 3, 1)),
             Row(k="y", v=8, price=2.0, d=datetime.date(2024, 3, 2))],
            df.schema,
        ),
        on="v",
    )
    snap = t.current_snapshot()
    assert snap.operation == "merge" and snap.delete_files
    assert t.read(spark).count() == 5
    assert (
        t.metadata_aggregate(spark, count_alias="c").collect()[0]["c"] == 5
    )
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, count_alias="c", max_of={"v": "hi"})


def test_survives_column_rename(spark, cat):
    df = _frame(spark)
    t = cat.create_table("m", "rn", df.schema, partition_by=["k"])
    t.append(df)
    t.rename_column("price", "amount")
    row = t.metadata_aggregate(
        spark, count_alias="n", min_of={"amount": "lo"},
        max_of={"amount": "hi"},
    ).collect()[0]
    assert (row["n"], row["lo"], row["hi"]) == (5, -2.25, 99.125)

    # a WHERE on a renamed file-constant column rides the same
    # names_for() physical-name history: the files' stats are keyed
    # under the old name 'g', the predicate says 'grp'
    df2 = spark.createDataFrame(
        [(g, i) for g in (1, 2) for i in range(3)], "g int, x int"
    )
    t2 = cat.create_table("m", "rnw", df2.schema)
    for g in (1, 2):
        t2.append(df2.where(F.col("g") == g).repartition(1))
    t2.rename_column("g", "grp")
    row = t2.metadata_aggregate(
        spark, where="grp = 1", count_alias="n"
    ).collect()[0]
    assert row["n"] == 3


def test_sql_count_star_peephole(spark, cat, tmp_path):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.sql import (
        SqlSession,
    )

    sess = SqlSession(spark, cat)
    sess.sql("CREATE NAMESPACE m")
    sess.sql("USE m")
    df = _frame(spark)
    t = cat.create_table("m", "s", df.schema, partition_by=["k"])
    t.append(df)
    # anything beyond the bare shape goes to the scan path untouched
    # (run BEFORE the wipe: the passthrough attaches every table of
    # the namespace as a view, which reads real data)
    assert (
        sess.sql("SELECT COUNT(*) FROM s WHERE v > 6").collect()[0][0]
        == 3
    )

    # wipe data bytes: only the metadata path can still answer
    for f in t.current_snapshot().files:
        os.remove(t.data_root / f)
    out = sess.sql("SELECT COUNT(*) FROM s")
    assert out.columns == ["count(1)"]
    assert out.collect()[0][0] == 5
    out = sess.sql("select count(*) as total from m.s")
    assert out.columns == ["total"] and out.collect()[0][0] == 5


def test_where_partition_predicate_metadata_only(spark, cat):
    df = _frame(spark)
    t = cat.create_table("m", "w", df.schema, partition_by=["k"])
    t.append(df)
    t.append(df.where("k = 'a'"))  # second file for partition a

    # the proof again: wipe every data byte first
    for f in t.current_snapshot().files:
        os.remove(t.data_root / f)

    def agg(where):
        return t.metadata_aggregate(
            spark, where=where, count_alias="n", max_of={"price": "hi"}
        ).collect()[0]

    r = agg("k = 'a'")
    assert (r["n"], r["hi"]) == (4, 1.5)
    # SQL null semantics per file: NULL predicate drops the file,
    # IS NULL keeps the all-null partition
    assert agg("k IS NULL")["n"] == 1
    assert agg("k = 'a' OR k IS NULL")["n"] == 5
    assert agg("k IN ('b')")["n"] == 2
    assert agg("upper(k) = 'A'")["n"] == 4  # full expression semantics
    assert agg("1 = 0")["n"] == 0 and agg("1 = 0")["hi"] is None

    # grouped + filtered in one fold
    got = {
        (r["k"], r["n"])
        for r in t.metadata_aggregate(
            spark, where="k IS NOT NULL", group_by=["k"], count_alias="n"
        ).collect()
    }
    assert got == {("a", 4), ("b", 2)}


def test_where_refusals(spark, cat):
    df = _frame(spark)
    t = cat.create_table("m", "wr", df.schema, partition_by=["k"])
    # one file per partition dir, so k=a's file holds v in {10, NULL}
    # — genuinely not file-constant (an unforced write can land one
    # row per file, where ANY predicate is trivially file-decidable)
    t.append(df.repartition(1))
    # v is not file-constant -> not decidable per file
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, where="v > 6", count_alias="n")
    # unknown column -> analyzer refuses
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, where="nope = 1", count_alias="n")
    # unparseable -> refused, not crashed
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, where="k ===", count_alias="n")


def test_sql_count_star_where_peephole(spark, cat):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.sql import (
        SqlSession,
    )

    sess = SqlSession(spark, cat)
    sess.sql("CREATE NAMESPACE m")
    sess.sql("USE m")
    df = _frame(spark)
    t = cat.create_table("m", "sw", df.schema, partition_by=["k"])
    t.append(df)
    for f in t.current_snapshot().files:
        os.remove(t.data_root / f)
    # partition predicate: answered from the manifest after the wipe
    assert (
        sess.sql("SELECT COUNT(*) FROM sw WHERE k = 'b'").collect()[0][0]
        == 2
    )
    assert (
        sess.sql(
            "SELECT COUNT(*) AS n FROM sw WHERE k IS NULL"
        ).collect()[0]["n"]
        == 1
    )


def test_sql_min_max_count_peephole(spark, cat):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.sql import (
        SqlSession,
    )

    sess = SqlSession(spark, cat)
    sess.sql("CREATE NAMESPACE m")
    sess.sql("USE m")
    df = _frame(spark)
    t = cat.create_table("m", "mm", df.schema, partition_by=["k"])
    t.append(df)

    # string MIN is stats-ineligible -> metadata path refuses -> the
    # scan path answers (data still present here)
    assert sess.sql("SELECT min(k) FROM mm").collect()[0][0] == "a"

    for f in t.current_snapshot().files:
        os.remove(t.data_root / f)

    out = sess.sql(
        "SELECT max(price) AS hi, COUNT(*), min(d), count(v) AS nv "
        "FROM mm WHERE k IS NOT NULL"
    )
    # select-list order and Spark-identical default names
    assert out.columns == ["hi", "count(1)", "min(d)", "nv"]
    r = out.collect()[0]
    assert (r["hi"], r["count(1)"], r["nv"]) == (99.125, 4, 3)
    assert r["min(d)"] == datetime.date(2024, 1, 1)

    # single MIN/MAX also rides the metadata path (data is gone;
    # non-aggregate shapes keep falling to the scan path, covered by
    # the pre-wipe passthrough in test_sql_count_star_peephole)
    out2 = sess.sql("SELECT max(price) AS hi FROM mm")
    assert out2.collect()[0]["hi"] == 99.125


def test_sql_group_by_peephole(spark, cat):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.sql import (
        SqlSession,
    )

    sess = SqlSession(spark, cat)
    sess.sql("CREATE NAMESPACE m")
    sess.sql("USE m")
    df = _frame(spark)
    # distribution none: each task writes its own files, so this
    # 5-row frame lands one row per file (the default hash
    # distribution would pack each partition into one file)
    t = cat.create_table(
        "m", "gb", df.schema, partition_by=["k"],
        properties={"write.distribution-mode": "none"},
    )
    t.append(df)
    for f in t.current_snapshot().files:
        os.remove(t.data_root / f)

    out = sess.sql(
        "SELECT k AS grp, COUNT(*) AS n, max(price) "
        "FROM gb WHERE k IS NOT NULL GROUP BY k"
    )
    assert out.columns == ["grp", "n", "max(price)"]
    got = {(r["grp"], r["n"], r["max(price)"]) for r in out.collect()}
    assert got == {("a", 2, 1.5), ("b", 2, 99.125)}

    # the partition-stats classic: group col not in select still fine
    n = sess.sql("SELECT COUNT(*) FROM gb GROUP BY k").collect()
    assert sorted(r[0] for r in n) == [1, 2, 2]

    # the write landed one row per file, so even the
    # non-partition column v is file-constant and the stats-range
    # grouper answers it exactly (data bytes are gone — only the
    # metadata path can)
    got_v = {
        (r[0], r[1])
        for r in sess.sql("SELECT v, COUNT(*) FROM gb GROUP BY v").collect()
    }
    assert got_v == {(10, 1), (None, 1), (7, 1), (42, 1), (5, 1)}


def test_randomized_against_scan(spark, cat):
    """Randomized cross-check: random frames, layouts, and aggregate
    specs — whenever the metadata path ANSWERS, it must equal the
    real scan exactly; refusing (MetadataAggregateUnsupported) is
    always a legal outcome. Deterministic seed, same policy as the
    tokenizer/CDC randomized suites."""
    import random

    rng = random.Random(20260815)
    df_all = None
    for trial in range(6):
        n = rng.randint(1, 40)
        rows = [
            (
                rng.choice(["x", "y", "z", None]),
                rng.choice([rng.randint(-50, 50), None]),
                rng.choice([round(rng.uniform(-9, 9), 3), None]),
            )
            for _ in range(n)
        ]
        df = spark.createDataFrame(rows, "k string, v int, p double")
        part = rng.choice([[], ["k"]])
        t = cat.create_table(
            "m", f"rand{trial}", df.schema, partition_by=part
        )
        # 1-2 commits, sometimes coalesced so files hold several rows
        for piece in range(rng.randint(1, 2)):
            chunk = df.filter(F.col("v").isNull() | (F.col("v") % 2 == piece))
            if rng.random() < 0.5:
                chunk = chunk.coalesce(1)
            t.append(chunk)
        where = rng.choice(
            [None, "k = 'x'", "k IS NOT NULL", "v >= 0", "p < 1.5"]
        )
        group = rng.choice([[], ["k"]])
        try:
            got = t.metadata_aggregate(
                spark,
                where=where,
                group_by=group,
                count_alias="n",
                min_of={"v": "lo"},
                max_of={"p": "hi"},
                count_of={"p": "np"},
            ).collect()
        except MetadataAggregateUnsupported:
            continue  # bail is always correct
        base = t.read(spark)
        if where:
            base = base.filter(where)
        agg = [
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("lo"),
            F.max("p").alias("hi"),
            F.count("p").alias("np"),
        ]
        exp = (
            base.groupBy(*group).agg(*agg) if group else base.agg(*agg)
        ).collect()
        key = lambda r: tuple(repr(x) for x in r)
        assert sorted(map(key, got)) == sorted(map(key, exp)), (
            trial, where, group, got, exp,
        )


def test_across_partition_spec_evolution(spark, cat):
    """Per-file group-value resolution spans spec generations. For a
    stats-eligible group type (int), files written under the old spec
    carry the value as a path segment and files written after
    evolve_partition_spec([]) resolve it from the constant stats
    range — one fold mixes both sources. A STRING group column only
    resolves from segments (string stats are truncation-hazardous by
    design), so the same evolution on a string-partitioned table
    refuses once segment-less files exist."""
    df = spark.createDataFrame(
        [(g, i) for g in (1, 2) for i in range(2)], "g int, x int"
    )
    t = cat.create_table("m", "ev", df.schema, partition_by=["g"])
    t.append(df.where("g = 1"))            # path-segment generation
    t.evolve_partition_spec([])
    t.append(df.where("g = 2").repartition(1))  # stats generation
    got = {
        (r["g"], r["n"])
        for r in t.metadata_aggregate(
            spark, group_by=["g"], count_alias="n"
        ).collect()
    }
    assert got == {(1, 2), (2, 2)}

    sdf = _frame(spark)
    ts = cat.create_table("m", "evs", sdf.schema, partition_by=["k"])
    ts.append(sdf.where("k = 'a'"))
    ts.evolve_partition_spec([])
    ts.append(sdf.where("k = 'b'").repartition(1))
    with pytest.raises(MetadataAggregateUnsupported):
        ts.metadata_aggregate(spark, group_by=["k"], count_alias="n")


def test_nan_bounds_refused_not_wrong(spark, cat):
    """The ADVICE r7 repro: a multi-row-group double file where a
    LATER row group's bounds carry NaN. The old Python fold dropped
    the NaN bound (every NaN comparison is false) and answered
    MAX=3999.0 while the scan answers NaN. The NaN-aware fold marks
    the column broken at commit, so the metadata path now REFUSES —
    exact-or-bail restored."""
    rows = [(float(i),) for i in range(4000)] + [(float("nan"),)]
    df = spark.createDataFrame(rows, "x double")
    t = cat.create_table("m", "nan", df.schema)
    # tiny block size forces several row groups in one file; the NaN
    # row lands in the last one
    t.append(
        df.coalesce(1).sortWithinPartitions(F.monotonically_increasing_id())
    )
    import math

    scan_max = t.read(spark).agg(F.max("x")).collect()[0][0]
    assert math.isnan(scan_max)
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, max_of={"x": "hi"})
    # COUNT(*) is bound-free and still answers
    assert (
        t.metadata_aggregate(spark, count_alias="n").collect()[0]["n"]
        == 4001
    )
    # a NaN-free double column keeps exact min/max
    t2 = cat.create_table("m", "nanfree", df.schema)
    t2.append(df.where("NOT isnan(x)"))
    got = t2.metadata_aggregate(
        spark, min_of={"x": "lo"}, max_of={"x": "hi"}
    ).collect()[0]
    assert (got["lo"], got["hi"]) == (0.0, 3999.0)


def test_nan_single_row_group_also_refused(spark, cat):
    df = spark.createDataFrame(
        [(1.0,), (float("nan",),)], "x double"
    )
    t = cat.create_table("m", "nan1", df.schema)
    t.append(df.coalesce(1))
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, max_of={"x": "hi"})
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, min_of={"x": "lo"})
    # NaN also breaks the min==max constancy route for group/where
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, where="x > 0", count_alias="n")


def test_pre_nan_aware_stats_detected_and_refused(spark, cat):
    """A snapshot whose stats entries LACK the ``:stats_version:``
    stamp (committed by a pre-NaN-aware engine) must be refused for
    float/double MIN/MAX and float constancy — the stale fold could
    have silently dropped a NaN bound. COUNT(*) and non-float bounds
    remain answerable, and the file-skipping pruner must stop
    trusting float ranges from such entries (treat as no stats)."""
    import json as _json

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "v int, price double"
    )
    t = cat.create_table("m", "prenan", df.schema)
    t.append(df.coalesce(1))  # one file: no empty-part passthroughs
    # simulate the pre-upgrade manifest: strip the version stamp
    ver = t._current_version()
    p = t.snap_root / f"v{ver:08d}.json"
    d = _json.loads(p.read_text())
    for st in d["stats"].values():
        st.pop(":stats_version:", None)
    p.write_text(_json.dumps(d))

    with pytest.raises(MetadataAggregateUnsupported, match="NaN-aware"):
        t.metadata_aggregate(spark, max_of={"price": "hi"})
    with pytest.raises(MetadataAggregateUnsupported, match="NaN-aware"):
        t.metadata_aggregate(spark, min_of={"price": "lo"})
    # float constancy via min==max is equally untrustworthy
    with pytest.raises(MetadataAggregateUnsupported):
        t.metadata_aggregate(spark, where="price > 0", count_alias="n")
    # COUNT(*) and integer bounds don't depend on NaN-awareness
    assert (
        t.metadata_aggregate(spark, count_alias="n").collect()[0]["n"] == 3
    )
    got = t.metadata_aggregate(
        spark, min_of={"v": "lo"}, max_of={"v": "hi"}
    ).collect()[0]
    assert (got["lo"], got["hi"]) == (1, 3)
    # pruner: a float conjunct that WOULD skip every file under the
    # (stale) bounds must keep them instead — int conjuncts still prune
    files = t.current_snapshot().files
    assert t._prune_files_by_stats(spark, files, "price > 100") == files
    assert t._prune_files_by_stats(spark, files, "v > 100") == []
    # an append adds STAMPED entries for the new file, but the old
    # file's entries stay pre-upgrade — the table-level answer must
    # still refuse (one stale file poisons the fold)
    t.append(df)
    with pytest.raises(MetadataAggregateUnsupported, match="NaN-aware"):
        t.metadata_aggregate(spark, max_of={"price": "hi"})
    # a full rewrite (overwrite = compaction here) re-folds every
    # file under the NaN-aware engine, restoring the metadata path
    t.overwrite(df)
    got2 = t.metadata_aggregate(
        spark, min_of={"price": "lo"}, max_of={"price": "hi"}
    ).collect()[0]
    assert (got2["lo"], got2["hi"]) == (1.0, 3.0)


def test_mor_count_star_from_manifest(spark, cat):
    """COUNT(*) under pure position deletes is a manifest fold:
    proven by wiping every DATA byte (delete files included) before
    asking. Global, grouped, and where-filtered counts all adjust by
    the per-target delete counts recorded at commit."""
    df = spark.createDataFrame(
        [(g, i) for g in ("a", "b") for i in range(10)],
        "k string, v int",
    )
    t = cat.create_table("m", "morcnt", df.schema, partition_by=["k"])
    t.append(df)
    t.delete_where(spark, "k = 'a' AND v < 3", mode="merge-on-read")
    t.delete_where(spark, "v = 9", mode="merge-on-read")  # both groups
    expected = {("a", 6), ("b", 9)}
    # wipe EVERY byte under data/ — only manifests remain
    for f in t.current_snapshot().files + t.current_snapshot().delete_files:
        os.remove(t.data_root / f)
    got = {
        (r["k"], r["n"])
        for r in t.metadata_aggregate(
            spark, group_by=["k"], count_alias="n"
        ).collect()
    }
    assert got == expected
    assert (
        t.metadata_aggregate(spark, count_alias="n").collect()[0]["n"] == 15
    )
    assert (
        t.metadata_aggregate(
            spark, where="k = 'b'", count_alias="n"
        ).collect()[0]["n"]
        == 9
    )


def test_mor_count_all_rows_of_a_file_deleted(spark, cat):
    df = spark.createDataFrame([(i,) for i in range(4)], "v int")
    t = cat.create_table("m", "morall", df.schema)
    t.append(df.coalesce(1))
    t.append(df.coalesce(1))
    t.delete_where(spark, "v >= 0", mode="merge-on-read")
    assert (
        t.metadata_aggregate(spark, count_alias="n").collect()[0]["n"] == 0
    )


def test_nondeterministic_where_refused(spark, cat):
    df = _frame(spark)
    t = cat.create_table("m", "nd", df.schema, partition_by=["k"])
    t.append(df)
    for w in ("rand() < 0.5", "k = 'a' AND rand() < 2", "uuid() IS NOT NULL"):
        with pytest.raises(MetadataAggregateUnsupported):
            t.metadata_aggregate(spark, where=w, count_alias="n")
    # deterministic expressions keep answering
    assert (
        t.metadata_aggregate(
            spark, where="upper(k) = 'A'", count_alias="n"
        ).collect()[0]["n"]
        == 2
    )


def test_ndv_sketch_lifecycle(spark, cat):
    """Per-file HLL NDV sketches: recorded when the property lists
    columns, carried across commits, merged register-wise with zero
    data IO (bytes wiped), and exact-or-bail — a file written without
    the property (or a rewrite) has no sketch, so the estimate
    refuses rather than undercounting."""
    df = spark.createDataFrame(
        [(i, f"u{i % 37}") for i in range(300)], "id long, user string"
    )
    t = cat.create_table(
        "m", "ndv", df.schema,
        properties={"ndv.sketch.columns": "user"},
    )
    t.append(df.where("id % 2 = 0"))
    t.append(df.where("id % 2 = 1"))
    for f in t.current_snapshot().files:
        os.remove(t.data_root / f)
    got = t.ndv_estimate(spark, "user").collect()[0]["approx_distinct"]
    assert abs(got - 37) <= 0.05 * 37 + 2
    # un-sketched column refuses
    with pytest.raises(MetadataAggregateUnsupported):
        t.ndv_estimate(spark, "id")

    # a table WITHOUT the property records nothing and refuses
    t2 = cat.create_table("m", "nondv", df.schema)
    t2.append(df)
    with pytest.raises(MetadataAggregateUnsupported):
        t2.ndv_estimate(spark, "user")

    # MOR deletes invalidate the recorded sketches
    t3 = cat.create_table(
        "m", "ndvdel", df.schema,
        properties={"ndv.sketch.columns": "user"},
    )
    t3.append(df)
    t3.delete_where(spark, "id < 10", mode="merge-on-read")
    with pytest.raises(MetadataAggregateUnsupported):
        t3.ndv_estimate(spark, "user")

    # empty table estimates 0
    t4 = cat.create_table(
        "m", "ndvempty", df.schema,
        properties={"ndv.sketch.columns": "user"},
    )
    assert t4.ndv_estimate(spark, "user").collect()[0]["approx_distinct"] == 0


def test_sql_approx_count_distinct_peephole(spark, cat):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.sql import (
        SqlSession,
    )

    sess = SqlSession(spark, cat)
    sess.sql("CREATE NAMESPACE m")
    sess.sql("USE m")
    df = spark.createDataFrame(
        [(i, f"u{i % 23}") for i in range(200)], "id long, user string"
    )
    t = cat.create_table(
        "m", "nsql", df.schema,
        properties={
            "ndv.sketch.columns": "user",
            # the peephole substitutes a DIFFERENT sketch than
            # Spark's HLL++, so the read side opts in explicitly
            "read.ndv-from-sketches": "true",
        },
    )
    t.append(df)
    # wipe data bytes: only the sketch path can still answer
    for f in t.current_snapshot().files:
        os.remove(t.data_root / f)
    out = sess.sql("SELECT approx_count_distinct(user) FROM nsql")
    assert out.columns == ["approx_count_distinct(user)"]
    got = out.collect()[0][0]
    assert abs(got - 23) <= 0.05 * 23 + 2
    out2 = sess.sql("SELECT APPROX_COUNT_DISTINCT(user) AS ndv FROM m.nsql")
    assert out2.columns == ["ndv"] and out2.collect()[0]["ndv"] == got

    # an un-sketched column falls through to the scan path, which
    # needs real data — run in a namespace whose tables all still
    # have bytes (the passthrough attaches EVERY namespace table)
    sess.sql("CREATE NAMESPACE m2")
    sess.sql("USE m2")
    t2 = cat.create_table("m2", "nsql2", df.schema)
    t2.append(df)
    got2 = sess.sql(
        "SELECT approx_count_distinct(user) FROM nsql2"
    ).collect()[0][0]
    assert abs(got2 - 23) <= 0.05 * 23 + 2  # Spark's own HLL++

    # sketches WITHOUT the read-side opt-in: same SQL keeps upstream
    # Spark's HLL++ scan semantics (the peephole must not substitute
    # a different estimator invisibly)
    t3 = cat.create_table(
        "m2", "nsql3", df.schema,
        properties={"ndv.sketch.columns": "user"},
    )
    t3.append(df)
    got3 = sess.sql(
        "SELECT approx_count_distinct(user) FROM nsql3"
    ).collect()[0][0]
    assert abs(got3 - 23) <= 0.05 * 23 + 2
    assert got3 == got2  # identical estimator -> identical estimate


def test_randomized_mor_count_against_read(spark, cat):
    """Randomized MOR-count cross-check: random frames, layouts, and
    overlapping merge-on-read delete predicates — whenever the
    metadata path ANSWERS COUNT(*), it must equal the real
    anti-joined read's count exactly; refusing is always legal."""
    import random

    rng = random.Random(20260816)
    for trial in range(5):
        n = rng.randint(5, 60)
        rows = [
            (i, rng.choice(["x", "y", "z"]), rng.randint(0, 9))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "id long, k string, v int")
        part = rng.choice([[], ["k"]])
        t = cat.create_table(
            "m", f"morrand{trial}", df.schema, partition_by=part
        )
        for piece in range(rng.randint(1, 2)):
            t.append(df.filter(F.col("id") % 2 == piece))
        for _ in range(rng.randint(1, 3)):
            mod = rng.randint(2, 7)
            rem = rng.randint(0, mod - 1)
            t.delete_where(
                spark, f"v % {mod} = {rem}", mode="merge-on-read"
            )
        expected = t.read(spark).count()
        where = rng.choice([None, "k = 'x'", "k IN ('y', 'z')"])
        base = t.read(spark)
        if where:
            expected_w = base.filter(where).count()
        try:
            got = t.metadata_aggregate(
                spark, where=where, count_alias="n"
            ).collect()[0]["n"]
        except MetadataAggregateUnsupported:
            continue
        assert got == (expected_w if where else expected), (
            trial, where, got,
        )


def test_count_star_builds_without_a_job(spark, cat, no_jobs):
    """Every shape the manifest fold serves builds and collects without
    a Spark job, and each answer equals Spark's own aggregate over
    ``Table.read``: COUNT(*), COUNT(col), MIN/MAX over int, double,
    decimal, date and timestamp, GROUP BY a partition column (the null
    partition included), WHERE on a partition column, and COUNT(*)
    under position deletes. A partition value holding a quote, a
    backslash and a non-ASCII letter comes back unchanged."""
    import decimal

    dt, dec = datetime.datetime, decimal.Decimal
    df = spark.createDataFrame(
        [
            ("a", 10, 1.5, dec("3.10"), datetime.date(2024, 1, 3),
             dt(2024, 1, 3, 8, 0)),
            ("a", None, -2.25, dec("-1.05"), datetime.date(2024, 1, 1), None),
            ("b", 7, 99.125, None, None, dt(2023, 12, 31, 23, 59, 59)),
            ("b", 42, 0.5, dec("12.00"), datetime.date(2024, 2, 1),
             dt(2024, 2, 1, 12, 30)),
            (None, 5, 3.5, dec("0.01"), datetime.date(2023, 12, 31),
             dt(2024, 6, 1)),
            # a partition value that must survive quoting into SQL text
            ("q'\\ü", 3, 4.5, dec("7.77"), datetime.date(2022, 5, 5),
             dt(2022, 5, 5, 5, 5)),
        ],
        "k string, v int, price double, amt decimal(10,2), d date,"
        " ts timestamp",
    )
    t = cat.create_table("m", "nojob", df.schema, partition_by=["k"])
    t.append(df)
    t.append(df.where("v > 8"))  # a second file in partitions a and b

    def scan(where=None, group_by=(), count_alias="cnt", min_of=None,
             max_of=None, count_of=None):
        base = t.read(spark)
        if where:
            base = base.filter(where)
        aggs = [F.count(F.lit(1)).alias(count_alias)] if count_alias else []
        aggs += [F.min(c).alias(a) for c, a in (min_of or {}).items()]
        aggs += [F.max(c).alias(a) for c, a in (max_of or {}).items()]
        aggs += [F.count(c).alias(a) for c, a in (count_of or {}).items()]
        return base.groupBy(*group_by).agg(*aggs) if group_by else base.agg(*aggs)

    def both_ways(spec):
        with no_jobs(repr(spec)):
            got = t.metadata_aggregate(spark, **spec)
            rows = got.collect()
        exp = scan(**spec)
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in exp.schema
        ], spec
        key = lambda r: tuple(repr(x) for x in r)
        assert sorted(map(key, rows)) == sorted(map(key, exp.collect())), spec

    cols = ("v", "price", "amt", "d", "ts")
    for spec in (
        {"count_alias": "n"},
        {"count_alias": None, "count_of": {c: f"nn_{c}" for c in cols}},
        {
            "min_of": {c: f"lo_{c}" for c in cols},
            "max_of": {c: f"hi_{c}" for c in cols},
        },
        {
            "group_by": ["k"], "min_of": {"ts": "lo"},
            "max_of": {"amt": "hi"}, "count_of": {"v": "nv"},
        },
        {"where": "k = 'b'", "max_of": {"d": "hi"}},
        {
            "where": "k IS NULL OR k = 'a'", "group_by": ["k"],
            "min_of": {"price": "lo"},
        },
    ):
        both_ways(spec)

    t.delete_where(spark, "v = 42", mode="merge-on-read")
    both_ways({"count_alias": "n"})
    both_ways({"group_by": ["k"], "count_alias": "n"})


def test_timestamp_min_max_order_by_instant(spark, cat):
    """MIN/MAX over a timestamp pick the earliest and latest instant
    even where the driver's local wall clock repeats across a DST
    fall-back (01:30 EDT comes before 01:15 EST)."""
    import time

    # 2024-11-03 05:30 and 06:15 UTC, one file each
    frames = [
        spark.sql(f"SELECT timestamp_seconds({1730592000 + 60 * m}) AS ts")
        for m in (5 * 60 + 30, 6 * 60 + 15)
    ]
    t = cat.create_table("m", "dst", frames[0].schema)
    for f in frames:
        t.append(f)
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        got = t.metadata_aggregate(
            spark, count_alias=None, min_of={"ts": "lo"}, max_of={"ts": "hi"}
        ).collect()[0]
        exp = t.read(spark).agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).collect()[0]
    finally:
        if old is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = old
        time.tzset()
    assert (got["lo"], got["hi"]) == (exp["lo"], exp["hi"])


def test_uncastable_recorded_value_refused(spark, cat):
    """A recorded min that does not cast back through the column's
    type refuses MIN, while COUNT(*), which reads no value, answers."""
    import json as _json

    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "v int, price double")
    t = cat.create_table("m", "castback", df.schema)
    t.append(df.coalesce(1))
    p = t._manifest_path(t._current_version())
    d = _json.loads(p.read_text())
    for st in d["stats"].values():
        st["v"][0] = "not-an-int"
    p.write_text(_json.dumps(d))

    with pytest.raises(MetadataAggregateUnsupported, match="cast back"):
        t.metadata_aggregate(spark, min_of={"v": "lo"})
    assert t.metadata_aggregate(spark, count_alias="n").collect()[0]["n"] == 2
