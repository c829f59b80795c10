"""SqlSession dispatches the reference's own SQL statements
(README.md:220-229, scripts/raw-bronze.py:113,
scripts/bronze-silver.py:213,254-269) onto the lakehouse catalog."""

import pytest
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
)

SCHEMA = T.StructType(
    [
        T.StructField("invoiceid", T.LongType()),
        T.StructField("category", T.StringType()),
        T.StructField("processed_time", T.LongType()),
    ]
)


@pytest.fixture()
def sess(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    return cat.sql_session(spark)


def test_reference_namespace_statements_verbatim(spark, sess):
    # scripts/raw-bronze.py:113 and README.md:220-222, catalog prefix
    # and all
    sess.sql("CREATE NAMESPACE IF NOT EXISTS s3tablesbucket.example_namespace")
    ns = [r["namespace"] for r in sess.sql("SHOW NAMESPACES IN s3tablesbucket").collect()]
    assert ns == ["example_namespace"]
    sess.sql("USE s3tablesbucket.example_namespace")
    assert sess.sql("SHOW TABLES").collect() == []

    sess.catalog.create_table("example_namespace", "bronze_orders", SCHEMA)
    tables = sess.sql("SHOW TABLES").collect()
    assert [(r["namespace"], r["tableName"]) for r in tables] == [
        ("example_namespace", "bronze_orders")
    ]


def test_reference_selects_and_counts(spark, sess):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS example_namespace")
    sess.sql("USE example_namespace")
    t = sess.catalog.create_table("example_namespace", "bronze_orders", SCHEMA)
    t.append(
        spark.createDataFrame(
            [(1, "Office", 10), (2, "Books", 20)], SCHEMA
        )
    )
    # README.md:224-228, bare table names after USE
    assert sess.sql("SELECT count(*) FROM bronze_orders ").collect()[0][0] == 2
    rows = sess.sql("SELECT invoiceid,category FROM bronze_orders ").collect()
    assert {(r["invoiceid"], r["category"]) for r in rows} == {
        (1, "Office"),
        (2, "Books"),
    }


def test_reference_merge_template(spark, sess):
    """The bronze->silver MERGE text (scripts/bronze-silver.py:254-269)
    with the standard ON / WHEN completion, executed as-written via a
    __temp_table temp view."""
    sess.sql("CREATE NAMESPACE IF NOT EXISTS example_namespace")
    sess.sql("USE example_namespace")
    t = sess.catalog.create_table("example_namespace", "silver_orders", SCHEMA)
    t.append(spark.createDataFrame([(1, "Old", 1), (3, "Keep", 1)], SCHEMA))

    spark.createDataFrame(
        [(1, "New", 5), (1, "Newer", 9), (2, "Insert", 7)], SCHEMA
    ).createOrReplaceTempView("__temp_table")

    merge_query = """
MERGE INTO {full_table_name} AS target
USING (
    SELECT *
    FROM (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY invoiceid
                   ORDER BY processed_time DESC
               ) AS row_num
        FROM __temp_table
    ) AS deduped_source
    WHERE row_num = 1
) AS source
ON target.invoiceid = source.invoiceid
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
"""
    sess.sql(merge_query.format(full_table_name="silver_orders"))
    spark.catalog.dropTempView("__temp_table")

    got = {r["invoiceid"]: r["category"] for r in t.read(spark).collect()}
    assert got == {1: "Newer", 2: "Insert", 3: "Keep"}


def test_merge_with_cdc_delete_clause(spark, sess):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS ns")
    sess.sql("USE ns")
    schema = T.StructType(
        SCHEMA.fields + [T.StructField("Op", T.StringType())]
    )
    t = sess.catalog.create_table("ns", "orders", SCHEMA)
    t.append(spark.createDataFrame([(1, "A", 1), (2, "B", 1)], SCHEMA))
    spark.createDataFrame(
        [(1, "A2", 5, "U"), (2, "B", 5, "D"), (4, "D4", 5, "I")], schema
    ).createOrReplaceTempView("__temp_table")
    sess.sql(
        """
        MERGE INTO orders AS target
        USING __temp_table AS source
        ON target.invoiceid = source.invoiceid
        WHEN MATCHED AND source.Op = 'D' THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    got = {r["invoiceid"]: r["category"] for r in t.read(spark).collect()}
    assert got == {1: "A2", 4: "D4"}


def test_drop_statements_and_errors(spark, sess):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS ns")
    sess.sql("USE ns")
    sess.catalog.create_table("ns", "t1", SCHEMA)
    sess.sql("DROP TABLE ns.t1")
    assert sess.sql("SHOW TABLES").collect() == []
    with pytest.raises(ValueError, match="does not exist"):
        sess.sql("DROP TABLE ns.t1")
    sess.sql("DROP TABLE IF EXISTS ns.t1")
    with pytest.raises(ValueError, match="does not exist"):
        sess.sql("USE nope")
    with pytest.raises(ValueError, match="equi-key"):
        sess.catalog.create_table("ns", "t2", SCHEMA)
        sess.sql(
            "MERGE INTO t2 AS t USING t2 AS s ON t.invoiceid < s.invoiceid "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )


def test_row_level_insert_update_delete(spark, sess):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS ns")
    sess.sql("USE ns")
    t = sess.catalog.create_table("ns", "orders", SCHEMA)
    sess.sql(
        "INSERT INTO orders VALUES (1, 'Office', 10), (2, 'Books', 20), "
        "(3, 'Games', 30)"
    )
    assert t.read(spark).count() == 3
    sess.sql(
        "UPDATE orders SET category = concat(category, '!'), "
        "processed_time = processed_time + 1 WHERE invoiceid = 2"
    )
    got = {r["invoiceid"]: (r["category"], r["processed_time"])
           for r in t.read(spark).collect()}
    assert got[2] == ("Books!", 21)
    assert got[1] == ("Office", 10)  # untouched
    sess.sql("DELETE FROM orders WHERE invoiceid = 1")
    assert {r["invoiceid"] for r in t.read(spark).collect()} == {2, 3}
    # file-scoped: the delete rewrote only touched files
    snap = t.current_snapshot()
    assert snap.operation == "delete"
    # INSERT ... SELECT over attached views
    sess.sql(
        "INSERT INTO orders SELECT invoiceid + 100, category, "
        "processed_time FROM orders"
    )
    assert t.read(spark).count() == 4


def test_create_table_statement(spark, sess):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS ns")
    sess.sql("USE ns")
    sess.sql(
        """
        CREATE TABLE ns.silver_orders (
            invoiceid BIGINT NOT NULL,
            category STRING,
            price DECIMAL(10,2),
            orderdate DATE
        ) USING iceberg
        PARTITIONED BY (category)
        TBLPROPERTIES ('write.merge.mode' = 'copy-on-write', 'fmt' = '2')
        """
    )
    t = sess.catalog.table("ns", "silver_orders")
    assert [f.name for f in t.schema.fields] == [
        "invoiceid", "category", "price", "orderdate"
    ]
    assert t.schema.fields[0].nullable is False
    assert t.partition_by == ["category"]
    assert t.properties["write.merge.mode"] == "copy-on-write"
    # IF NOT EXISTS is a no-op; without it, an error
    sess.sql("CREATE TABLE IF NOT EXISTS silver_orders (x INT)")
    with pytest.raises(ValueError, match="already exists"):
        sess.sql("CREATE TABLE silver_orders (x INT)")
    # created table is immediately usable through the dispatcher
    sess.sql(
        "INSERT INTO silver_orders VALUES "
        "(1, 'Office', 9.99, DATE '2024-01-01')"
    )
    assert sess.sql("SELECT count(*) FROM silver_orders").collect()[0][0] == 1


def test_metadata_tables_via_sql(spark, sess):
    """The reference's silver job runs the literal statement
    ``SELECT * FROM {table}.history`` (scripts/bronze-silver.py:119);
    .snapshots and .files resolve the same way."""
    sess.sql("CREATE NAMESPACE IF NOT EXISTS example_namespace")
    sess.sql("USE example_namespace")
    t = sess.catalog.create_table("example_namespace", "orders", SCHEMA)
    t.append(spark.createDataFrame([(1, "A", 1)], SCHEMA))
    t.append(spark.createDataFrame([(2, "B", 2)], SCHEMA))

    hist = sess.sql("SELECT * FROM orders.history").collect()
    assert len(hist) == 3  # create + 2 appends
    assert all(r["is_current_ancestor"] for r in hist)
    # fully-qualified (catalog-prefixed) spelling, as the reference
    # writes it
    hist2 = sess.sql(
        "SELECT snapshot_id FROM s3tablesbucket.example_namespace.orders.history"
    ).collect()
    assert {r["snapshot_id"] for r in hist2} == {r["snapshot_id"] for r in hist}

    snaps = sess.sql(
        "SELECT operation, snapshot_id FROM orders.snapshots ORDER BY committed_at"
    ).collect()
    assert [r["operation"] for r in snaps] == ["create", "append", "append"]

    files = sess.sql(
        "SELECT file_path, record_count FROM orders.files"
    ).collect()
    assert sum(r["record_count"] for r in files) == 2
    # metadata tables join against data tables in one statement
    joined = sess.sql(
        "SELECT count(*) AS n FROM orders.snapshots s JOIN orders.history h "
        "ON s.snapshot_id = h.snapshot_id"
    ).collect()
    assert joined[0]["n"] == 3
    # a quoted literal mentioning FROM x.history is never rewritten
    lit = sess.sql(
        "SELECT 'not FROM orders.history' AS s FROM orders LIMIT 1"
    ).collect()
    assert lit[0]["s"] == "not FROM orders.history"


def test_time_travel_via_sql(spark, sess, no_jobs):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS ns")
    sess.sql("USE ns")
    t = sess.catalog.create_table("ns", "orders", SCHEMA)
    t.append(spark.createDataFrame([(1, "A", 1)], SCHEMA))
    v1 = t.latest_snapshot_id()
    ts1 = [s for s in t.snapshots() if s.snapshot_id == v1][0].timestamp_ms
    t.append(spark.createDataFrame([(2, "B", 2)], SCHEMA))

    def count(stmt):
        # a time-travel COUNT(*) is answered from that snapshot's
        # manifest: no Spark job runs
        with no_jobs(stmt):
            return sess.sql(stmt).collect()[0][0]

    assert count("SELECT count(*) FROM orders") == 2
    assert count(f"SELECT count(*) FROM orders VERSION AS OF {v1}") == 1
    assert (
        count(f"SELECT count(*) FROM orders FOR SYSTEM_VERSION AS OF {v1}")
        == 1
    )
    import datetime as dt

    stamp = dt.datetime.fromtimestamp(
        ts1 / 1000, dt.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S.%f+00:00")
    assert count(f"SELECT count(*) FROM orders TIMESTAMP AS OF '{stamp}'") == 1
    with pytest.raises(ValueError, match="no snapshot"):
        sess.sql(
            "SELECT * FROM orders TIMESTAMP AS OF '1999-01-01 00:00:00+00:00'"
        )


def test_create_table_as_select(spark, sess):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS ns")
    sess.sql("USE ns")
    t = sess.catalog.create_table("ns", "orders", SCHEMA)
    t.append(
        spark.createDataFrame(
            [(1, "Office", 10), (2, "Books", 20), (3, "Office", 30)], SCHEMA
        )
    )
    sess.sql(
        """
        CREATE TABLE ns.category_mart
        USING iceberg
        PARTITIONED BY (category)
        TBLPROPERTIES ('origin' = 'ctas')
        AS SELECT category, count(*) AS n, sum(processed_time) AS total
           FROM orders GROUP BY category
        """
    )
    mart = sess.catalog.table("ns", "category_mart")
    assert mart.partition_by == ["category"]
    assert mart.properties["origin"] == "ctas"
    got = {r["category"]: (r["n"], r["total"])
           for r in sess.sql("SELECT * FROM category_mart").collect()}
    assert got == {"Office": (2, 40), "Books": (1, 20)}
    # IF NOT EXISTS no-op; plain re-create raises
    sess.sql("CREATE TABLE IF NOT EXISTS category_mart AS SELECT 1 AS x")
    with pytest.raises(ValueError, match="already exists"):
        sess.sql("CREATE TABLE category_mart AS SELECT 1 AS x")
    # CTAS straight off a metadata table
    sess.sql(
        "CREATE TABLE ns.audit AS SELECT snapshot_id, operation "
        "FROM orders.snapshots"
    )
    assert sess.sql("SELECT count(*) FROM audit").collect()[0][0] == 2


def test_merge_rejects_unsupported_clauses(spark, sess):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS ns")
    sess.sql("USE ns")
    t = sess.catalog.create_table("ns", "orders", SCHEMA)
    t.append(spark.createDataFrame([(1, "A", 1)], SCHEMA))
    spark.createDataFrame([(1, "A2", 5)], SCHEMA).createOrReplaceTempView(
        "__src"
    )
    base = (
        "MERGE INTO orders AS target USING __src AS source "
        "ON target.invoiceid = source.invoiceid "
    )
    # silently-droppable-before: WHEN NOT MATCHED BY SOURCE must raise
    with pytest.raises(ValueError, match="unsupported MERGE clause"):
        sess.sql(
            base
            + "WHEN MATCHED THEN UPDATE SET * "
            + "WHEN NOT MATCHED THEN INSERT * "
            + "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        )
    # duplicate conditional DELETE must raise, not last-one-wins
    with pytest.raises(ValueError, match="duplicate"):
        sess.sql(
            base
            + "WHEN MATCHED AND source.category = 'X' THEN DELETE "
            + "WHEN MATCHED AND source.category = 'Y' THEN DELETE "
            + "WHEN MATCHED THEN UPDATE SET * "
            + "WHEN NOT MATCHED THEN INSERT *"
        )
    # conditional UPDATE SET * (predicate would be silently dropped)
    with pytest.raises(ValueError, match="unsupported MERGE clause"):
        sess.sql(
            base
            + "WHEN MATCHED AND source.category = 'X' THEN UPDATE SET * "
            + "WHEN NOT MATCHED THEN INSERT *"
        )
    # the table is untouched by all rejected statements
    assert {r["category"] for r in t.read(spark).collect()} == {"A"}


def test_quote_robust_parsing(spark, sess):
    """String literals containing parens/commas/doubled quotes must
    not derail the USING paren scan or SET-list splitting."""
    sess.sql("CREATE NAMESPACE IF NOT EXISTS ns")
    sess.sql("USE ns")
    t = sess.catalog.create_table("ns", "orders", SCHEMA)
    t.append(spark.createDataFrame([(1, "A", 1), (2, "B", 1)], SCHEMA))
    # paren + doubled-quote inside the USING subquery's literals
    sess.sql(
        """
        MERGE INTO orders AS target
        USING (
            SELECT 1 AS invoiceid, concat('it''s (x', ')') AS category,
                   9 AS processed_time
        ) AS source
        ON target.invoiceid = source.invoiceid
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    got = {r["invoiceid"]: r["category"] for r in t.read(spark).collect()}
    assert got[1] == "it's (x)"
    # UPDATE SET list with ')' and ',' and '' escapes in literals
    sess.sql(
        "UPDATE orders SET category = concat(category, ' (a,b)', ''''), "
        "processed_time = 7 WHERE invoiceid = 2"
    )
    got = {r["invoiceid"]: (r["category"], r["processed_time"])
           for r in t.read(spark).collect()}
    assert got[2] == ("B (a,b)'", 7)


def test_alter_table_describe(spark, sess):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS ns")
    sess.sql("USE ns")
    t = sess.catalog.create_table("ns", "orders", SCHEMA)
    t.append(spark.createDataFrame([(1, "A", 1)], SCHEMA))
    sess.sql("ALTER TABLE orders ADD COLUMN discount DOUBLE")
    sess.sql("ALTER TABLE orders RENAME COLUMN category TO cat")
    # old rows resolve through the rename; new column reads null
    row = sess.sql("SELECT invoiceid, cat, discount FROM orders").collect()[0]
    assert (row["invoiceid"], row["cat"], row["discount"]) == (1, "A", None)
    sess.sql("ALTER TABLE orders DROP COLUMN processed_time")
    t = sess.catalog.table("ns", "orders")
    assert [f.name for f in t.schema.fields] == ["invoiceid", "cat", "discount"]
    # SET TBLPROPERTIES is dispatchable since r5 (Table.set_properties)
    sess.sql("ALTER TABLE orders SET TBLPROPERTIES ('a'='b')")
    assert sess.catalog.table("ns", "orders").properties["a"] == "b"
    with pytest.raises(ValueError, match="unsupported ALTER"):
        sess.sql("ALTER TABLE orders FROBNICATE everything")
    # multi-column ADD with parens
    sess.sql("ALTER TABLE orders ADD COLUMNS (x BIGINT, y STRING)")
    assert [f.name for f in sess.catalog.table("ns", "orders").schema.fields] == [
        "invoiceid", "cat", "discount", "x", "y"
    ]
    desc = sess.sql("DESCRIBE TABLE orders").collect()
    assert [(r["col_name"], r["data_type"]) for r in desc[:3]] == [
        ("invoiceid", "bigint"), ("cat", "string"), ("discount", "double")
    ]


def test_insert_overwrite(spark, sess):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS ns")
    sess.sql("USE ns")
    t = sess.catalog.create_table("ns", "orders", SCHEMA)
    sess.sql("INSERT INTO orders VALUES (1, 'A', 1), (2, 'B', 2)")
    sess.sql("INSERT OVERWRITE orders VALUES (9, 'Z', 9)")
    got = [(r["invoiceid"], r["category"]) for r in t.read(spark).collect()]
    assert got == [(9, "Z")]
    assert t.current_snapshot().operation == "overwrite"


def test_call_procedures(spark, sess):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS ns")
    sess.sql("USE ns")
    t = sess.catalog.create_table("ns", "orders", SCHEMA)
    for i in range(3):
        t.append(spark.createDataFrame([(i, "A", i)], SCHEMA))
    assert len(t.snapshots()) == 4
    n_files_before = len(t.current_snapshot().files)
    # Iceberg-style spelling, catalog prefix and named args included
    out = sess.sql(
        "CALL system.expire_snapshots(table => 'ns.orders', retain_last => 2)"
    ).collect()
    assert len(out) == 2  # create + first append expired
    assert len(t.snapshots()) == 2
    compacted = sess.sql(
        "CALL lake.system.rewrite_data_files('ns.orders')"
    ).collect()
    assert compacted[0]["data_files"] <= n_files_before
    removed = sess.sql(
        "CALL system.remove_orphan_files('ns.orders', 0)"
    ).collect()
    # the compaction's replaced files are orphans once expired
    # stock positional signature: (table, older_than, retain_last)
    sess.sql("CALL system.expire_snapshots('ns.orders', retain_last => 1)")
    removed2 = sess.sql(
        "CALL system.remove_orphan_files(table => 'ns.orders', older_than_seconds => 0)"
    ).collect()
    assert len(removed2) >= 1
    assert {r["invoiceid"] for r in t.read(spark).collect()} == {0, 1, 2}
    with pytest.raises(ValueError, match="unknown procedure"):
        sess.sql("CALL system.nope('ns.orders')")

def test_call_rewrite_strategies(spark, sess):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS ns2")
    sess.sql("USE ns2")
    t = sess.catalog.create_table(
        "ns2", "grid", spark.createDataFrame([], "x long, y long").schema
    )
    rows = [(x, y) for x in range(16) for y in range(16)]
    t.append(spark.createDataFrame(rows, "x long, y long"))
    out = sess.sql(
        "CALL system.rewrite_data_files(table => 'ns2.grid', "
        "target_partitions => 4, strategy => 'zorder', sort_order => 'x, y')"
    ).collect()
    assert out[0]["data_files"] == 4
    # both dims prune after the z-order rewrite
    files = t.current_snapshot().files
    assert len(t._prune_files_by_stats(spark, files, "x < 4")) < 4
    assert len(t._prune_files_by_stats(spark, files, "y < 4")) < 4
    assert {(r.x, r.y) for r in t.read(spark).collect()} == set(rows)
    sess.sql(
        "CALL system.rewrite_data_files(table => 'ns2.grid', "
        "target_partitions => 2, strategy => 'sort', sort_order => 'x')"
    )
    assert {(r.x, r.y) for r in t.read(spark).collect()} == set(rows)
    with pytest.raises(ValueError, match="zorder"):
        sess.sql(
            "CALL system.rewrite_data_files(table => 'ns2.grid', "
            "strategy => 'zorder', sort_order => 'x')"
        )
    with pytest.raises(ValueError, match="sort_order"):
        sess.sql(
            "CALL system.rewrite_data_files(table => 'ns2.grid', "
            "strategy => 'binpack', sort_order => 'x')"
        )
    with pytest.raises(ValueError, match="unknown rewrite strategy"):
        sess.sql(
            "CALL system.rewrite_data_files(table => 'ns2.grid', strategy => 'hilbert')"
        )


def test_show_create_table_roundtrips(spark, tmp_path):
    """SHOW CREATE TABLE emits canonical DDL that this dispatcher can
    RE-EXECUTE: schema, partition transforms, and user properties all
    survive; engine-internal bookkeeping props never leak."""
    from pyspark.sql import types as T

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
        Catalog,
    )
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.sql import (
        SqlSession,
    )

    cat = Catalog(tmp_path / "wh")
    ses = SqlSession(spark, cat)
    ses.sql("CREATE NAMESPACE a")
    ses.sql("CREATE NAMESPACE b")
    ses.sql(
        "CREATE TABLE a.src (id BIGINT, v STRING, ts TIMESTAMP) "
        "USING iceberg PARTITIONED BY (bucket(4, id), days(ts)) "
        "TBLPROPERTIES ('write.parquet.compression-codec' = 'zstd')"
    )
    # evolve so internal props exist, then prove they don't leak
    ses.sql("ALTER TABLE a.src RENAME COLUMN v TO v2")
    stmt = ses.sql("SHOW CREATE TABLE a.src").collect()[0]["createtab_stmt"]
    assert "bucket(4, id)" in stmt and "days(ts)" in stmt
    assert "v2 STRING" in stmt
    assert "write.parquet.compression-codec" in stmt
    assert "iceberg.field-ids" not in stmt
    assert "schema.renames" not in stmt
    # re-execute the emitted DDL into the other namespace
    ses.sql(stmt.replace("a.src", "b.dst"))
    t2 = cat.table("b", "dst")
    assert [f.name for f in t2.schema.fields] == ["id", "v2", "ts"]
    assert list(t2.current_snapshot().partition_by) == [
        "bucket(4, id)", "days(ts)"
    ]
    assert t2.properties["write.parquet.compression-codec"] == "zstd"


def test_rename_table_and_truncate(spark, tmp_path):
    from pyspark.sql import types as T

    cat = Catalog(tmp_path / "wh")
    sess = cat.sql_session(spark)
    sess.sql("CREATE NAMESPACE IF NOT EXISTS a")
    sess.sql("USE a")
    sess.sql("CREATE TABLE t1 (k BIGINT, v STRING)")
    sess.sql("INSERT INTO t1 VALUES (1, 'x'), (2, 'y')")
    sess.sql("ALTER TABLE t1 RENAME TO t2")
    assert not cat.table_exists("a", "t1")
    assert cat.table_exists("a", "t2")
    # history + data moved wholesale
    assert sess.sql("SELECT count(*) AS n FROM t2").collect()[0]["n"] == 2
    # cross-namespace rename
    sess.sql("ALTER TABLE t2 RENAME TO b.t3")
    assert cat.table_exists("b", "t3")
    t3 = cat.table("b", "t3")
    assert t3.read(spark).count() == 2
    with pytest.raises(ValueError):
        cat.rename_table("b", "t3", "b", "t3")
    # TRUNCATE keeps schema + history, empties data
    sess.sql("USE b")
    pre = t3.current_snapshot().snapshot_id
    sess.sql("TRUNCATE TABLE t3")
    assert t3.read(spark).count() == 0
    assert [f.name for f in t3.schema.fields] == ["k", "v"]
    assert t3.read(spark, snapshot_id=pre).count() == 2  # time travel


def test_partitions_metadata_via_sql(spark, sess):
    sess.sql("CREATE NAMESPACE IF NOT EXISTS pmeta")
    sess.sql("USE pmeta")
    t = sess.catalog.create_table("pmeta", "orders", SCHEMA)
    t.append(spark.createDataFrame([(1, "A", 1), (2, "B", 2)], SCHEMA))
    rows = sess.sql(
        "SELECT record_count, data_file_count FROM orders.partitions"
    ).collect()
    assert len(rows) == 1 and rows[0]["record_count"] == 2


def test_entries_and_manifests_metadata_via_sql(spark, sess):
    """`FROM t.entries` / `FROM t.manifests` complete the Iceberg
    metadata-table family: entries carry the status enum
    (0 EXISTING / 1 ADDED / 2 DELETED) with first-appearance sequence
    numbers; manifests list one row per retained snapshot manifest
    with its file-count summary."""
    sess.sql("CREATE NAMESPACE IF NOT EXISTS meta_ns")
    sess.sql("USE meta_ns")
    t = sess.catalog.create_table("meta_ns", "ent", SCHEMA)
    t.append(spark.createDataFrame([(1, "A", 1), (2, "B", 2)], SCHEMA))
    t.append(spark.createDataFrame([(3, "C", 3)], SCHEMA))

    ent = sess.sql(
        "SELECT status, content, sequence_number, record_count "
        "FROM ent.entries ORDER BY sequence_number, file_path"
    ).collect()
    snaps = t.snapshots()
    # current snapshot: batch-1 files EXISTING with batch-1 seq,
    # batch-2 files ADDED with batch-2 seq; no deletes
    assert all(r["content"] == 0 for r in ent)
    by_status = {}
    for r in ent:
        by_status.setdefault(r["status"], []).append(r)
    assert sum(r["record_count"] for r in by_status[0]) == 2
    assert sum(r["record_count"] for r in by_status[1]) == 1
    assert all(
        r["sequence_number"] == snaps[1].snapshot_id for r in by_status[0]
    )
    assert all(
        r["sequence_number"] == snaps[2].snapshot_id for r in by_status[1]
    )
    assert 2 not in by_status

    # a MERGE that rewrites batch-1 files shows DELETED entries
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
        merge_into,
    )

    merge_into(
        spark, t, spark.createDataFrame([(1, "A2", 9)], SCHEMA),
        on="invoiceid",
    )
    ent2 = sess.sql(
        "SELECT status, count(*) AS n, sum(record_count) AS rows "
        "FROM ent.entries GROUP BY status ORDER BY status"
    ).collect()
    stat = {r["status"]: (r["n"], r["rows"]) for r in ent2}
    assert 2 in stat  # the rewritten file appears as DELETED
    assert 1 in stat  # and its replacement as ADDED

    man = sess.sql(
        "SELECT snapshot_id, added_data_files_count, "
        "existing_data_files_count, deleted_data_files_count, length "
        "FROM ent.manifests ORDER BY snapshot_id"
    ).collect()
    assert len(man) == len(t.snapshots())
    assert all(r["length"] > 0 for r in man)
    head = {s.snapshot_id: s for s in t.snapshots()}
    for r in man:
        s = head[r["snapshot_id"]]
        assert r["added_data_files_count"] == len(
            set(s.files) & set(s.added_files))
        assert r["deleted_data_files_count"] == len(s.removed_files)


def test_views_lifecycle_and_live_resolution(spark, tmp_path):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
        Catalog,
    )

    cat = Catalog(str(tmp_path / "wh"))
    sess = cat.sql_session(spark)
    sess.sql("CREATE NAMESPACE v")
    sess.sql("USE v")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
        "id long, k string, x double",
    )
    t = cat.create_table("v", "base", df.schema)
    t.append(df.filter("id <= 2"))
    sess.sql("CREATE VIEW agg AS SELECT k, sum(x) AS s FROM base GROUP BY k")
    # dependent view over a view
    sess.sql("CREATE VIEW agg2 AS SELECT k, s * 2 AS s2 FROM agg")
    got = {r["k"]: r["s2"] for r in sess.sql("SELECT * FROM agg2").collect()}
    assert got == {"a": 20.0, "b": 40.0}

    # views re-resolve against LIVE state (Iceberg view-spec model)
    t.append(df.filter("id = 3"))
    got = {r["k"]: r["s2"] for r in sess.sql("SELECT * FROM agg2").collect()}
    assert got == {"a": 80.0, "b": 40.0}

    # SHOW VIEWS / OR REPLACE / IF NOT EXISTS / DROP
    names = [r["viewName"] for r in sess.sql("SHOW VIEWS").collect()]
    assert names == ["agg", "agg2"]
    sess.sql("CREATE VIEW IF NOT EXISTS agg AS SELECT 1 AS one")  # no-op
    assert {r["k"] for r in sess.sql("SELECT * FROM agg").collect()} == {"a", "b"}
    sess.sql("CREATE OR REPLACE VIEW agg2 AS SELECT k FROM agg")
    assert sess.sql("SELECT * FROM agg2").columns == ["k"]
    sess.sql("DROP VIEW agg2")
    assert [r["viewName"] for r in sess.sql("SHOW VIEWS").collect()] == ["agg"]
    sess.sql("DROP VIEW IF EXISTS nope")  # silent

    # guard rails: duplicate without OR REPLACE, table shadowing,
    # unresolvable body
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        sess.sql("CREATE VIEW agg AS SELECT 1 AS one")
    with _pytest.raises(ValueError, match="shadow"):
        sess.sql("CREATE VIEW base AS SELECT 1 AS one")
    with _pytest.raises(Exception):
        sess.sql("CREATE VIEW broken AS SELECT nope FROM base")
    assert [r["viewName"] for r in sess.sql("SHOW VIEWS").collect()] == ["agg"]

    # a view whose base table was dropped: skipped at attach, other
    # statements keep working, and its direct use raises
    sess.sql("CREATE VIEW doomed AS SELECT id FROM base")
    cat.drop_table("v", "base")
    assert [r["viewName"] for r in sess.sql("SHOW VIEWS").collect()] == [
        "agg", "doomed",
    ]
    with _pytest.raises(Exception):
        sess.sql("SELECT * FROM doomed").collect()


def test_name_universe_guard_is_bidirectional(spark, tmp_path):
    """r9 ADVICE: tables must refuse to shadow views too — otherwise
    the attach pass (views registered after tables) makes every
    SELECT on the new table silently resolve to the stale view."""
    import pytest as _pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
        Catalog,
    )

    cat = Catalog(str(tmp_path / "wh"))
    sess = cat.sql_session(spark)
    sess.sql("CREATE NAMESPACE g")
    sess.sql("USE g")
    df = spark.createDataFrame([(1, 2.0)], "id long, x double")
    cat.create_table("g", "base", df.schema).append(df)
    sess.sql("CREATE VIEW vu AS SELECT id FROM base")

    with _pytest.raises(ValueError, match="view"):
        sess.sql("CREATE TABLE vu (id BIGINT)")
    with _pytest.raises(ValueError, match="view"):
        sess.sql("CREATE TABLE vu AS SELECT * FROM base")
    with _pytest.raises(ValueError, match="view"):
        cat.create_table("g", "vu", df.schema)
    with _pytest.raises(ValueError, match="view"):
        cat.rename_table("g", "base", "g", "vu")
    # the view is untouched and still resolves
    assert sess.sql("SELECT * FROM vu").columns == ["id"]


def test_replace_view_reorders_and_rejects_contradiction(spark, tmp_path):
    """r9 ADVICE: OR REPLACE + IF NOT EXISTS is rejected (not a silent
    no-op), and a REPLACEd view moves to the END of the creation-order
    registry so a body referencing a later-created view re-resolves at
    attach; dependents of the moved view survive via fixpoint replay."""
    import pytest as _pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
        Catalog,
    )

    cat = Catalog(str(tmp_path / "wh"))
    sess = cat.sql_session(spark)
    sess.sql("CREATE NAMESPACE rv")
    sess.sql("USE rv")
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, x double")
    cat.create_table("rv", "base", df.schema).append(df)

    sess.sql("CREATE VIEW v1 AS SELECT id, x FROM base")
    sess.sql("CREATE VIEW v2 AS SELECT id, x * 2 AS x2 FROM base")
    # dependent of v1, created after it
    sess.sql("CREATE VIEW dep AS SELECT sum(x) AS s FROM v1")

    with _pytest.raises(ValueError, match="cannot be combined"):
        sess.sql(
            "CREATE OR REPLACE VIEW IF NOT EXISTS v1 AS SELECT 1 AS one"
        )

    # replace v1 to reference v2 (created AFTER v1's original slot):
    # without the re-append this silently skipped at attach time
    sess.sql("CREATE OR REPLACE VIEW v1 AS SELECT id, x2 AS x FROM v2")
    # fresh session = fresh attach replay from the stored registry
    sess2 = cat.sql_session(spark)
    sess2.sql("USE rv")
    got = {r["id"]: r["x"] for r in sess2.sql("SELECT * FROM v1").collect()}
    assert got == {1: 20.0, 2: 40.0}
    # dep (now listed BEFORE v1 in the registry) still resolves via
    # the fixpoint replay
    assert sess2.sql("SELECT * FROM dep").collect()[0]["s"] == 60.0


def test_quiet_probe_is_reentrant():
    """r9 ADVICE: nested probes must not permanently silence the
    query-context loggers (save/restore of global levels could
    restore CRITICAL as 'previous')."""
    import logging

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.table import (
        _quiet_probe,
    )

    lg = logging.getLogger("SQLQueryContextLogger")
    before_level = lg.level
    before_filters = list(lg.filters)
    with _quiet_probe():
        with _quiet_probe():
            assert not lg.isEnabledFor(logging.ERROR) or not lg.filter(
                logging.LogRecord("SQLQueryContextLogger", logging.ERROR,
                                  __file__, 0, "m", (), None)
            )
        # inner exit must NOT re-enable... outer scope still muted
        assert not lg.filter(
            logging.LogRecord("SQLQueryContextLogger", logging.ERROR,
                              __file__, 0, "m", (), None)
        )
    assert lg.level == before_level
    assert list(lg.filters) == before_filters


def test_quiet_probe_keeps_analysis_errors_typed(spark):
    """The probe must create PySpark's query-context loggers as
    PySparkLoggers: a plain logger rejects the ``errorClass=`` keyword
    PySpark logs with, so every later AnalysisException (a mistyped
    column, a dropped table) surfaced as a TypeError."""
    import logging

    from pyspark.errors import AnalysisException

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.table import (
        _quiet_probe,
    )

    loggers = logging.Logger.manager.loggerDict
    names = ("SQLQueryContextLogger", "DataFrameQueryContextLogger")
    saved = {n: loggers.pop(n, None) for n in names}
    try:
        with _quiet_probe():
            pass
        with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
            spark.sql("SELECT nope FROM range(1)").collect()
    finally:
        for n, lg in saved.items():
            if lg is not None:
                loggers[n] = lg


# -- referenced-only attach and the per-snapshot frame cache ---------
def _rows(sess, stmt):
    return sorted(tuple(r) for r in sess.sql(stmt).collect())


def _kv(spark, *keys):
    return spark.createDataFrame([(k,) for k in keys], "k long")


def test_dropped_renamed_or_dropped_view_name_is_not_found(spark, sess):
    """DROP TABLE, ALTER TABLE ... RENAME TO and DROP VIEW unbind the
    old name: a later SELECT fails analysis instead of reading the
    frame attached before (which pointed at deleted files)."""
    from pyspark.errors import AnalysisException

    sess.sql("CREATE NAMESPACE d")
    sess.sql("USE d")
    for name in ("t", "u"):
        sess.sql(f"CREATE TABLE {name} (k BIGINT)")
        sess.sql(f"INSERT INTO {name} VALUES (1)")
    sess.sql("CREATE VIEW w AS SELECT k FROM u")
    assert _rows(sess, "SELECT k FROM t") == [(1,)]
    assert _rows(sess, "SELECT k FROM w") == [(1,)]

    sess.sql("DROP TABLE t")
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        sess.sql("SELECT k FROM t").collect()
    sess.sql("DROP VIEW w")
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        sess.sql("SELECT k FROM w").collect()
    assert _rows(sess, "SELECT k FROM u") == [(1,)]
    sess.sql("ALTER TABLE u RENAME TO u2")
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        sess.sql("SELECT k FROM u").collect()
    assert _rows(sess, "SELECT k FROM u2") == [(1,)]
    # a name attached from another namespace does not resolve here
    sess.sql("CREATE NAMESPACE e")
    sess.sql("USE e")
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        sess.sql("SELECT k FROM u2").collect()


def test_commit_between_selects_shows_up(spark, sess):
    sess.sql("CREATE NAMESPACE c")
    sess.sql("USE c")
    t = sess.catalog.create_table("c", "t", _kv(spark).schema)
    t.append(_kv(spark, 1))
    assert _rows(sess, "SELECT k FROM t") == [(1,)]
    t.append(_kv(spark, 2))
    assert _rows(sess, "SELECT k FROM t") == [(1,), (2,)]


def test_view_over_changed_base_re_resolves(spark, sess):
    sess.sql("CREATE NAMESPACE vc")
    sess.sql("USE vc")
    t = sess.catalog.create_table("vc", "base", _kv(spark).schema)
    t.append(_kv(spark, 1))
    sess.sql("CREATE VIEW v AS SELECT k * 10 AS k10 FROM base")
    assert _rows(sess, "SELECT k10 FROM v") == [(10,)]
    t.append(_kv(spark, 2))
    assert _rows(sess, "SELECT k10 FROM v") == [(10,), (20,)]


def test_recreated_table_at_same_version_shows_new_rows(spark, sess):
    """A table dropped and recreated restarts at v1, so the version
    alone cannot tell the two tables apart."""
    sess.sql("CREATE NAMESPACE rc")
    sess.sql("USE rc")
    cat = sess.catalog
    t = cat.create_table("rc", "t", _kv(spark).schema)
    t.append(_kv(spark, 1))
    old_version = t._current_version()
    assert _rows(sess, "SELECT k FROM t") == [(1,)]
    cat.drop_table("rc", "t")
    t = cat.create_table("rc", "t", _kv(spark).schema)
    t.append(_kv(spark, 2))
    assert t._current_version() == old_version
    assert _rows(sess, "SELECT k FROM t") == [(2,)]


def test_table_renamed_into_freed_name_shows_its_rows(spark, sess):
    sess.sql("CREATE NAMESPACE rn")
    sess.sql("USE rn")
    cat = sess.catalog
    for name, k in (("a", 1), ("b", 2)):
        cat.create_table("rn", name, _kv(spark).schema).append(_kv(spark, k))
    assert _rows(sess, "SELECT k FROM a") == [(1,)]
    cat.drop_table("rn", "a")
    cat.rename_table("rn", "b", "rn", "a")
    assert _rows(sess, "SELECT k FROM a") == [(2,)]


def test_sessions_over_two_catalogs_share_one_spark_session(spark, tmp_path):
    """Temp views are global to the SparkSession: each statement binds
    its own frames again, and each session keeps its own keys."""
    one = Catalog(tmp_path / "one").sql_session(spark)
    two = Catalog(tmp_path / "two").sql_session(spark)
    for sess, k in ((one, 1), (two, 2)):
        sess.sql("CREATE NAMESPACE n")
        sess.sql("USE n")
        sess.catalog.create_table("n", "t", _kv(spark).schema).append(
            _kv(spark, k)
        )
    assert _rows(one, "SELECT k FROM t") == [(1,)]
    assert _rows(two, "SELECT k FROM t") == [(2,)]
    assert _rows(one, "SELECT k FROM t") == [(1,)]
    two.catalog.table("n", "t").append(_kv(spark, 3))
    assert _rows(two, "SELECT k FROM t") == [(2,), (3,)]
    assert _rows(one, "SELECT k FROM t") == [(1,)]


def test_session_does_not_answer_from_another_sessions_table(
    spark, tmp_path
):
    """A bare name another SqlSession bound on the same SparkSession
    does not resolve in a session whose namespace has no such table,
    and the session that bound it still reads it. A temp view the
    caller registered without a SqlSession still resolves."""
    from pyspark.errors import AnalysisException

    one = Catalog(tmp_path / "one").sql_session(spark)
    two = Catalog(tmp_path / "two").sql_session(spark)
    for sess in (one, two):
        sess.sql("CREATE NAMESPACE n")
    one.catalog.create_table("n", "t", _kv(spark).schema).append(
        _kv(spark, 1)
    )
    one.sql("USE n")
    assert _rows(one, "SELECT k FROM t") == [(1,)]
    two.sql("USE n")
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        two.sql("SELECT k FROM t").collect()
    assert _rows(one, "SELECT k FROM t") == [(1,)]
    spark.createDataFrame([(7,)], "k long").createOrReplaceTempView("u")
    try:
        assert _rows(two, "SELECT k FROM u") == [(7,)]
    finally:
        spark.catalog.dropTempView("u")


def test_time_travel_to_expired_snapshot_still_raises(spark, sess):
    sess.sql("CREATE NAMESPACE tt")
    sess.sql("USE tt")
    t = sess.catalog.create_table("tt", "t", _kv(spark).schema)
    first = t.append(_kv(spark, 1)).snapshot_id
    t.append(_kv(spark, 2))
    stmt = f"SELECT k FROM t VERSION AS OF {first}"
    assert _rows(sess, stmt) == [(1,)]
    assert _rows(sess, stmt) == [(1,)]
    t.expire_snapshots(keep_last=1)
    with pytest.raises(KeyError):
        sess.sql(stmt).collect()


def test_select_plans_a_table_once_per_snapshot(spark, sess, monkeypatch):
    """A SELECT plans only the tables it names, and only when one of
    them committed since this session last planned it."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.table import (
        Table,
    )

    sess.sql("CREATE NAMESPACE pc")
    sess.sql("USE pc")
    cat = sess.catalog
    for name in ("a", "b", "c"):
        cat.create_table("pc", name, _kv(spark).schema).append(_kv(spark, 1))
    read, calls = Table.read, []

    def counting_read(self, *args, **kwargs):
        calls.append(self.root.name)
        return read(self, *args, **kwargs)

    monkeypatch.setattr(Table, "read", counting_read)

    def reads(stmt):
        calls.clear()
        sess.sql(stmt).collect()
        return calls[:]

    stmt = "SELECT k FROM a WHERE k > 0"
    assert reads(stmt) == ["a"]
    assert reads(stmt) == []
    cat.table("pc", "a").append(_kv(spark, 2))
    assert reads(stmt) == ["a"]
    cat.table("pc", "b").append(_kv(spark, 2))
    assert reads(stmt) == []


def test_user_temp_view_named_like_a_table_of_another_namespace(
    spark, sess
):
    """The session unbinds only the bare names it bound itself: a temp
    view the caller registers after ``USE`` under the name of a table
    the session read in the namespace before survives, and so does one
    whose name a ``DROP TABLE`` in another namespace repeats."""
    for ns in ("a", "b"):
        sess.sql(f"CREATE NAMESPACE {ns}")
        sess.catalog.create_table(ns, "src", _kv(spark).schema).append(
            _kv(spark, 1)
        )
    sess.sql("CREATE NAMESPACE c")
    sess.sql("USE a")
    assert _rows(sess, "SELECT k FROM src") == [(1,)]
    sess.sql("USE c")
    spark.createDataFrame([(7,), (8,)], "k long").createOrReplaceTempView(
        "src"
    )
    try:
        assert _rows(sess, "SELECT k FROM src") == [(7,), (8,)]
        sess.sql("DROP TABLE b.src")
        assert _rows(sess, "SELECT k FROM src") == [(7,), (8,)]
    finally:
        spark.catalog.dropTempView("src")


def test_kept_frames_stay_bounded(spark, sess):
    """Time travel keeps one frame per table, an expired snapshot's
    frame is dropped, and a table's frame leaves with its namespace."""
    sess.sql("CREATE NAMESPACE kf")
    sess.sql("CREATE NAMESPACE other")
    sess.sql("USE kf")
    t = sess.catalog.create_table("kf", "t", _kv(spark).schema)
    sids = [t.append(_kv(spark, k)).snapshot_id for k in (1, 2, 3)]
    assert _rows(sess, "SELECT k FROM t") == [(1,), (2,), (3,)]
    for n, sid in enumerate(sids, start=1):
        assert len(_rows(sess, f"SELECT k FROM t VERSION AS OF {sid}")) == n
        assert set(sess._frames) == {("kf", "t", None), ("kf", "t", sid)}
    t.expire_snapshots(keep_last=1)
    with pytest.raises(KeyError):
        sess.sql(f"SELECT k FROM t VERSION AS OF {sids[0]}")
    assert set(sess._frames) == {("kf", "t", None)}
    sess.sql("USE other")
    sess.sql("SELECT 1").collect()
    assert sess._frames == {}


def test_planned_selects_equal_spark_over_the_snapshot(
    spark, sess, no_jobs, monkeypatch
):
    """A single-table ``SELECT ... WHERE`` reads only the files whose
    manifest bounds can hold a match. Each answer equals Spark's over
    ``Table.read`` of the same snapshot; an absent-key lookup, current
    or time-travelled, and ``COUNT(*)`` over ``t.history`` start no
    job; a statement naming the table twice is not planned."""
    import re

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.table import (
        Table,
    )

    sess.sql("CREATE NAMESPACE pf")
    with no_jobs("USE"):
        assert sess.sql("USE pf").collect() == []
    schema = "k long, v string"
    cow = sess.catalog.create_table("pf", "cow", _kv(spark).schema)
    mor = sess.catalog.create_table(
        "pf", "mor", spark.createDataFrame([], schema).schema,
        properties={"write.delete.mode": "merge-on-read"},
    )
    for lo in (0, 10, 20):
        cow.append(_kv(spark, *range(lo, lo + 10)).coalesce(1))
        mor.append(
            spark.createDataFrame(
                [(k, f"v{k}") for k in range(lo, lo + 10)], schema
            ).coalesce(1)
        )
    first = cow.main_log()[1].snapshot_id  # the first append
    mor.delete_where(spark, "k IN (12, 25)")
    assert mor.current_snapshot().delete_files

    def agrees(stmt, t, sid=None):
        t.read(spark, snapshot_id=sid).createOrReplaceTempView("pf_ref")
        ref = re.sub(
            r"FROM (\w+)(?: VERSION AS OF \d+)?", "FROM pf_ref \\1", stmt
        )
        got, want = sess.sql(stmt), spark.sql(ref)
        assert got.columns == want.columns, stmt
        assert sorted(got.collect()) == sorted(want.collect()), stmt
        return sorted(tuple(r) for r in got.collect())

    for stmt, sid in (
        ("SELECT * FROM cow WHERE k = -1", None),
        (f"SELECT k FROM cow VERSION AS OF {first} WHERE k = 15", first),
        ("SELECT * FROM mor WHERE k = -3", None),
    ):
        with no_jobs(stmt):
            assert sess.sql(stmt).collect() == []
        assert agrees(stmt, cow if "cow" in stmt else mor, sid) == []

    assert agrees("SELECT k FROM cow WHERE k = 15", cow) == [(15,)]
    assert agrees(f"SELECT * FROM cow VERSION AS OF {first} WHERE k = 5",
                  cow, first) == [(5,)]
    snap = cow.current_snapshot()
    some = "k >= 5 AND k < 15"
    assert len(cow._prune_files_by_stats(spark, snap.files, some)) == 2
    assert agrees(f"SELECT k * 2 AS k2 FROM cow WHERE {some}", cow) == [
        (2 * k,) for k in range(5, 15)
    ]
    # deleted rows stay deleted in the pruned read of a MOR table
    assert agrees("SELECT k, v FROM mor WHERE k >= 11 AND k < 26", mor) == [
        (k, f"v{k}") for k in range(11, 26) if k not in (12, 25)
    ]

    planned = []
    prune = Table._prune_files_by_stats

    def spy(self, *args, **kwargs):
        planned.append(args)
        return prune(self, *args, **kwargs)

    monkeypatch.setattr(Table, "_prune_files_by_stats", spy)
    cow.read(spark).createOrReplaceTempView("pf_all")
    for stmt in (
        "SELECT k FROM cow WHERE k = 3 UNION ALL "
        "SELECT k FROM cow WHERE k = 25",
        "SELECT a.k FROM cow a JOIN cow b ON a.k = b.k WHERE a.k = 3",
    ):
        ref = re.sub(r"\b(FROM|JOIN) cow\b", r"\1 pf_all", stmt)
        assert _rows(sess, stmt) == sorted(
            tuple(r) for r in spark.sql(ref).collect()
        )
    assert planned == []

    stmt = "SELECT COUNT(*) FROM cow.history"
    with no_jobs(stmt):
        got = sess.sql(stmt).collect()
    assert got == [(cow.history_df(spark).count(),)] == [(4,)]
    assert sess.sql(stmt).columns == ["count(1)"]


def test_cased_and_qualified_lookups_are_planned(spark, sess, no_jobs):
    """A column is matched as Spark resolves it: in any case, and
    qualified or not by the name the statement gives the table. An
    absent-key lookup in either form reads no file, and every answer
    equals Spark's over ``Table.read``. A struct field ``s.k`` is not
    column ``k``: it keeps every file."""
    schema = "k long, s struct<k: long>"
    sess.sql("CREATE NAMESPACE qf")
    sess.sql("USE qf")
    t = sess.catalog.create_table(
        "qf", "t", spark.createDataFrame([], schema).schema
    )
    for lo in (0, 10, 20):
        t.append(
            spark.createDataFrame(
                [(k, (-k,)) for k in range(lo, lo + 10)], schema
            ).coalesce(1)
        )
    t.read(spark).createOrReplaceTempView("qf_ref")

    def agrees(stmt):
        ref = stmt.replace("FROM t", "FROM qf_ref t")
        got = sorted(tuple(r) for r in sess.sql(stmt).collect())
        assert got == sorted(
            tuple(r) for r in spark.sql(ref).collect()
        ), stmt
        return got

    for stmt in (
        "SELECT t.k FROM t WHERE t.k = -3",
        "SELECT * FROM t WHERE K = -3",
        "SELECT k FROM t WHERE `T`.`K` = -3 AND k >= 0",
    ):
        with no_jobs(stmt):
            assert sess.sql(stmt).collect() == []
        assert agrees(stmt) == []
    assert agrees("SELECT t.k FROM t WHERE T.K = 15") == [(15,)]
    assert agrees("SELECT k FROM t WHERE s.k = -15") == [(15,)]
    assert agrees("SELECT k FROM t WHERE t.s.k = -25") == [(25,)]


def test_absent_key_lookup_is_one_statement(spark, sess, sql_calls):
    """Planning an absent integer key decides its files on the driver,
    so ``SqlSession.sql`` of the lookup is one ``SparkSession.sql``
    call: the statement over the empty relation."""
    sess.sql("CREATE NAMESPACE one")
    sess.sql("USE one")
    t = sess.catalog.create_table("one", "t", SCHEMA)
    for lo in (0, 10):
        t.append(
            spark.createDataFrame(
                [(k, "c", k) for k in range(lo, lo + 10)], SCHEMA
            ).coalesce(1)
        )
    stmt = "SELECT invoiceid, category FROM t WHERE invoiceid = -4"
    assert sess.sql(stmt).collect() == []  # attaches t once
    calls = sql_calls()
    df = sess.sql(stmt)
    assert len(calls) == 1, calls
    assert df.collect() == [] and df.columns == ["invoiceid", "category"]


def test_catalog_listings_keep_their_schema(spark, sess, no_jobs):
    """SHOW NAMESPACES / TABLES / VIEWS answer with Spark's column names
    and types, rows in catalog order, and no job; an empty namespace
    gives zero rows under the same schema."""
    sess.sql("CREATE NAMESPACE lst")
    sess.sql("CREATE NAMESPACE lst_empty")
    sess.sql("USE lst")
    for name in ("zeta", "alpha", "mid"):
        sess.catalog.create_table("lst", name, SCHEMA)
    sess.sql("CREATE VIEW v2 AS SELECT invoiceid FROM alpha")
    sess.sql("CREATE VIEW v1 AS SELECT invoiceid FROM zeta")

    def types(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    with no_jobs("listings"):
        ns = sess.sql("SHOW NAMESPACES")
        assert types(ns) == [("namespace", T.StringType())]
        assert [r[0] for r in ns.collect()] == sess.catalog.namespaces()
        tables = sess.sql("SHOW TABLES")
        assert types(tables) == [
            ("namespace", T.StringType()),
            ("tableName", T.StringType()),
            ("isTemporary", T.BooleanType()),
        ]
        assert [tuple(r) for r in tables.collect()] == [
            ("lst", t, False) for t in sess.catalog.tables("lst")
        ]
        views = sess.sql("SHOW VIEWS")
        assert types(views) == [
            ("namespace", T.StringType()), ("viewName", T.StringType())
        ]
        assert [tuple(r) for r in views.collect()] == [
            ("lst", "v1"), ("lst", "v2")
        ]
        for stmt, full in (
            ("SHOW TABLES IN lst_empty", tables),
            ("SHOW VIEWS IN lst_empty", views),
        ):
            empty = sess.sql(stmt)
            assert empty.collect() == [] and empty.schema == full.schema
