"""Driver-contract drift guards: every queries() entry has an oracle
(or is on the known approximate list), names are aligned, and small
behavior checks for the new compaction/CSV options."""

import pytest
from pyspark.sql import types as T

import __spark_entry__ as entry

def test_every_query_has_oracle():
    qs, oracles = set(entry.queries()), set(entry.oracle_sql())
    assert oracles <= qs, f"oracles without queries: {oracles - qs}"
    assert qs == oracles, f"queries without oracles: {qs - oracles}"


def test_query_count_floor():
    # coverage must not silently shrink between rounds
    assert len(entry.queries()) >= 100


def test_bench_decisions_name_live_queries():
    # HEADLINE is derived from queries(); every hand-written bench
    # decision must still name a registry entry it applies to
    import bench

    headline = set(bench.HEADLINE)
    assert set(bench.EXCLUDED_REASONS) <= set(entry.queries())
    siblings = {sib for _, sib in bench.EXCLUDED_REASONS.values() if sib}
    assert siblings <= headline, siblings - headline
    assert set(bench.QUERY_CONF) <= headline
    assert set(bench.R01_SUBSET) <= headline


def test_driver_rows_build_frames_only_through_local_frame():
    # createDataFrame over Python rows runs a Python-worker job per
    # read; session.local_frame is the one place it may be called
    import ast
    from pathlib import Path

    import medallion_architecture_using_apache_iceberg_table_buckets_spark as mats
    from medallion_architecture_using_apache_iceberg_table_buckets_spark import session

    session_py = Path(session.__file__)
    fn = next(
        n for n in ast.parse(session_py.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    root = Path(mats.__file__).parent
    hits = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
        and not (path == session_py and fn.lineno <= i <= fn.end_lineno)
    ]
    assert hits == [], f"use session.local_frame instead: {hits}"


def test_partition_paths_parse_only_in_transforms():
    # the on-disk partition-path format (escaping, the default
    # partition) has one home; everything else calls partition_values
    from pathlib import Path

    import medallion_architecture_using_apache_iceberg_table_buckets_spark as mats

    root = Path(mats.__file__).parent
    home = root / "lakehouse" / "transforms.py"
    hits = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path != home
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "HIVE_DEFAULT_PARTITION" in line or "unescape_path_name" in line
    ]
    assert hits == [], f"use transforms.partition_values instead: {hits}"


def test_commits_and_first_write_have_one_home():
    # snapshot plumbing stays inside Table (callers commit through its
    # public methods), and create-on-first-write is Catalog.write alone
    import ast
    from pathlib import Path

    import medallion_architecture_using_apache_iceberg_table_buckets_spark as mats

    root = Path(mats.__file__).parent
    home = root / "lakehouse" / "table.py"
    private = ("_next_snapshot(", "_current_version(", "._load(")
    hits = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path != home
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if any(p in line for p in private)
    ]
    assert hits == [], f"commit through Table's public methods: {hits}"

    # create_table under an `if` on table_exists (directly or through a
    # name bound to it), in a function that also appends or overwrites,
    # is a second copy of Catalog.write
    def calls(node, attr):
        return any(
            isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr
            for n in ast.walk(node)
        )

    first_write = []
    for path in sorted(root.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            exists_names = {
                t.id
                for n in ast.walk(fn)
                if isinstance(n, ast.Assign) and calls(n.value, "table_exists")
                for t in n.targets
                if isinstance(t, ast.Name)
            }
            guarded = any(
                isinstance(n, ast.If)
                and (
                    calls(n.test, "table_exists")
                    or any(
                        isinstance(x, ast.Name) and x.id in exists_names
                        for x in ast.walk(n.test)
                    )
                )
                and any(calls(b, "create_table") for b in n.body + n.orelse)
                for n in ast.walk(fn)
            )
            if guarded and (calls(fn, "append") or calls(fn, "overwrite")):
                first_write.append(f"{path.relative_to(root)}:{fn.name}")
    assert first_write == ["lakehouse/catalog.py:write"], first_write


def test_one_merge_on_read_form():
    # merge-on-read is position deletes alone: the key-based
    # merge-delta form and its read-time resolve are gone
    import ast
    from pathlib import Path

    import medallion_architecture_using_apache_iceberg_table_buckets_spark as mats

    root = Path(mats.__file__).parent
    gone = ("merge-delta", "_delta_files", "_resolve_mor",
            "append_merge_delta", "__mor__")
    hits = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if any(g in line for g in gone)
    ]
    assert hits == [], f"position deletes are the one MOR form: {hits}"

    # reads are not O(history): read, scan, _read_live,
    # read_incremental and DELETE/UPDATE discovery (_touched_by), and
    # every Table method they reach, never list the snapshots
    table = next(
        n for n in ast.parse((root / "lakehouse" / "table.py").read_text()).body
        if isinstance(n, ast.ClassDef) and n.name == "Table"
    )
    methods = {
        n.name: n for n in table.body if isinstance(n, ast.FunctionDef)
    }

    def self_calls(fn):
        return {
            n.func.attr
            for n in ast.walk(fn)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "self"
        }

    reached, todo = set(), [
        "read", "scan", "_read_live", "read_incremental", "_touched_by"
    ]
    while todo:
        name = todo.pop()
        if name in reached or name not in methods:
            continue
        reached.add(name)
        todo.extend(self_calls(methods[name]))
    listing = sorted(m for m in reached if "snapshots" in self_calls(methods[m]))
    assert listing == [], f"reads list the snapshot history in {listing}"


def test_sorted_compaction_clusters(spark, tmp_path):
    # an unpartitioned and a partitioned table: a sorted compaction
    # keeps its range layout, so a partitioned table's write does not
    # rebalance the sorted rows by partition value
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import Catalog
    import pyarrow.parquet as pq

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("p", T.StringType()),
        ]
    )
    rows = [(i % 97, i, f"p{i % 3}") for i in range(5000)]
    cat = Catalog(tmp_path / "wh")
    for name, partition_by in (("t", []), ("tp", ["p"])):
        t = cat.create_table("d", name, schema, partition_by=partition_by)
        t.append(spark.createDataFrame(rows, schema))
        t.compact(spark, target_partitions=4, sort_by=["id"])
        by_part = {}
        for f in t.current_snapshot().files:
            by_part.setdefault(f.rsplit("/", 1)[0] if "/" in f else "", []).append(f)
        assert len(by_part) == (3 if partition_by else 1)
        for files in by_part.values():
            # 4 range tasks, each holding rows of every partition
            assert len(files) == 4
            # range clustering: per-file id ranges must be disjoint
            ranges = []
            for f in files:
                md = pq.ParquetFile(t.data_root / f)
                col = md.metadata.row_group(0).column(0).statistics
                ranges.append((col.min, col.max))
            ranges.sort()
            overlaps = sum(1 for a, b in zip(ranges, ranges[1:]) if a[1] > b[0])
            assert overlaps == 0
        assert t.read(spark).count() == 5000


def test_csv_modes(spark, tmp_path):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline.ingest import (
        read_csv_batch,
    )

    f = tmp_path / "x.csv"
    f.write_text("id\tprice\n1\t2.5\nbad\tnotanumber\n3\t4.5\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("price", T.DoubleType())]
    )
    permissive = read_csv_batch(spark, [str(f)], schema=schema).collect()
    assert len(permissive) == 3  # bad row null-filled
    dropped = read_csv_batch(
        spark, [str(f)], schema=schema, mode="DROPMALFORMED"
    ).collect()
    assert {r["id"] for r in dropped} == {1, 3}
    quarantined = read_csv_batch(
        spark, [str(f)], schema=schema, corrupt_record_col="_bad"
    )
    bad = [r for r in quarantined.collect() if r["_bad"] is not None]
    assert len(bad) == 1 and "notanumber" in bad[0]["_bad"]
    with pytest.raises(Exception):
        read_csv_batch(spark, [str(f)], schema=schema, mode="FAILFAST").collect()
