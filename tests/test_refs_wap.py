"""Branch/tag refs and the write-audit-publish gate.

Iceberg v2 refs semantics on the engine's snapshot kernel: branches
are writable heads that move independently of main (the CURRENT
pointer), tags are immutable markers, both pin their snapshots
against expiration and their data files against vacuum. WAP stages a
write on an audit branch, validates the staged state, and publishes
by metadata-only fast-forward — readers of main never see unaudited
rows.
"""

import pytest
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.sql import (
    SqlSession,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.wap import (
    write_audit_publish,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


def mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture
def cat(tmp_path):
    return Catalog(tmp_path / "warehouse")


@pytest.fixture
def t(spark, cat):
    t = cat.create_table("demo", "reft", SCHEMA)
    t.append(mk(spark, [(1, "a"), (2, "b")]))
    return t


def test_branch_write_isolates_main(spark, t):
    t.create_branch("audit")
    t.append(mk(spark, [(3, "staged")]), branch="audit")
    # main untouched; branch sees base + staged
    assert t.read(spark).count() == 2
    assert t.read(spark, ref="audit").count() == 3
    # branch head chains onto the fork-point snapshot
    head = t._resolve_ref("audit")
    assert head.parent_id == t.current_snapshot().snapshot_id
    # refs metadata table lists main first, then the branch
    rows = t.refs_df(spark).collect()
    assert rows[0]["name"] == "main"
    assert {(r["name"], r["type"]) for r in rows} == {
        ("main", "branch"), ("audit", "branch")
    }


def test_fast_forward_publishes_and_guards(spark, t):
    t.create_branch("audit")
    t.append(mk(spark, [(3, "staged")]), branch="audit")
    published = t.fast_forward("audit")
    assert t.current_snapshot().snapshot_id == published.snapshot_id
    assert t.read(spark).count() == 3

    # non-fast-forward: main advances after the fork -> refuse
    t.create_branch("stale")
    t.append(mk(spark, [(4, "staged2")]), branch="stale")
    t.append(mk(spark, [(5, "mainline")]))
    with pytest.raises(RuntimeError, match="fast-forward"):
        t.fast_forward("stale")


def test_tag_is_immutable_and_readable(spark, t):
    t.create_tag("v1")
    t.append(mk(spark, [(3, "later")]))
    # the tag still reads the state at tagging time
    assert t.read(spark, ref="v1").count() == 2
    assert t.read(spark).count() == 3
    with pytest.raises(KeyError, match="not a branch"):
        t.append(mk(spark, [(9, "x")]), branch="v1")
    with pytest.raises(ValueError, match="tag"):
        t.fast_forward("v1")


def test_refs_pin_snapshots_and_files(spark, t):
    t.create_tag("keep")  # pins snapshot v2 (the first append)
    pinned = t._resolve_ref("keep").snapshot_id
    for i in range(3, 7):
        t.append(mk(spark, [(i, "x")]))
    expired = t.expire_snapshots(keep_last=1)
    assert pinned not in expired
    assert t.read(spark, ref="keep").count() == 2
    # branch data files survive vacuum (branch snapshots are live)
    t.create_branch("b")
    t.append(mk(spark, [(100, "staged")]), branch="b")
    removed = t.vacuum(older_than_seconds=0)
    assert t.read(spark, ref="b").count() == 7
    assert all("staged" not in p for p in removed)


def test_wap_publish_and_reject(spark, t):
    ok = write_audit_publish(
        spark, t, mk(spark, [(3, "good")]),
        audits=[
            ("no_nulls", lambda df: df.filter("v IS NULL").count() == 0),
            ("rowcount", lambda df: df.count() == 3),
        ],
    )
    assert ok.published and ok.failed == []
    assert t.read(spark).count() == 3
    assert ok.branch not in t.refs()  # audit branch cleaned up

    bad = write_audit_publish(
        spark, t, mk(spark, [(4, None)]),
        audits=[("no_nulls", lambda df: df.filter("v IS NULL").count() == 0)],
    )
    assert not bad.published and bad.failed == ["no_nulls"]
    assert t.read(spark).count() == 3  # main untouched
    assert bad.branch in t.refs()  # kept for debugging
    assert t.read(spark, ref=bad.branch).count() == 4
    t.drop_ref(bad.branch)


def test_sql_surface_branches(spark, tmp_path, no_jobs):
    cat = Catalog(tmp_path / "wh")
    sess = SqlSession(spark, cat, namespace="demo")
    sess.sql("CREATE NAMESPACE IF NOT EXISTS demo")
    sess.sql("CREATE TABLE demo.st (id BIGINT, v STRING)")
    sess.sql("INSERT INTO demo.st VALUES (1, 'a'), (2, 'b')")
    sess.sql("ALTER TABLE demo.st CREATE BRANCH audit")
    t = cat.table("demo", "st")
    t.append(mk(spark, [(3, "staged")]), branch="audit")

    # VERSION AS OF '<ref>' resolves branch and tag names, and COUNT(*)
    # is answered from that snapshot's manifest without a Spark job; the
    # plain read stays on main (bare names = attached namespace views)
    stmt = "SELECT count(*) AS n FROM st VERSION AS OF 'audit'"
    with no_jobs(stmt):
        assert sess.sql(stmt).collect()[0]["n"] == 3
    assert sess.sql("SELECT count(*) AS n FROM st").collect()[0]["n"] == 2

    # refs metadata table through SQL
    refs = {r["name"]: r for r in sess.sql(
        "SELECT * FROM st.refs"
    ).collect()}
    assert refs["audit"]["type"] == "branch"

    # publish through the stored procedure, stock signature
    out = sess.sql(
        "CALL system.fast_forward('demo.st', 'main', 'audit')"
    ).collect()[0]
    assert out["branch_updated"] == "main"
    assert sess.sql("SELECT count(*) AS n FROM st").collect()[0]["n"] == 3

    sess.sql("ALTER TABLE demo.st DROP BRANCH audit")
    sess.sql("ALTER TABLE demo.st CREATE TAG v1 AS OF VERSION 2")
    stmt = "SELECT count(*) AS n FROM st VERSION AS OF 'v1'"
    with no_jobs(stmt):
        assert sess.sql(stmt).collect()[0]["n"] == 2
    sess.sql("ALTER TABLE demo.st DROP TAG IF EXISTS nosuch")
    with pytest.raises(KeyError):
        sess.sql("ALTER TABLE demo.st DROP TAG nosuch")


def test_timestamp_as_of_and_history_follow_main(spark, cat, t, no_jobs):
    """TIMESTAMP AS OF and ``<t>.history`` read main's snapshot log: an
    unpublished branch commit answers neither until main reaches it by
    fast-forward."""
    import time
    from datetime import datetime, timezone

    def now() -> str:
        time.sleep(0.002)
        return datetime.now(timezone.utc).isoformat()

    t.create_branch("audit")
    staged = t.append(mk(spark, [(3, "staged")]), branch="audit")
    sess = SqlSession(spark, cat, namespace="demo")
    at = now()
    stmt = f"SELECT COUNT(*) FROM reft TIMESTAMP AS OF '{at}'"
    assert sess.sql(stmt).collect()[0][0] == 2
    ids = sess.sql(f"SELECT id FROM reft TIMESTAMP AS OF '{at}'").collect()
    assert sorted(r.id for r in ids) == [1, 2]
    history = [r.snapshot_id for r in t.history_df(spark).collect()]
    assert staged.snapshot_id not in history
    assert staged.snapshot_id in {
        r.snapshot_id for r in t.snapshots_df(spark).collect()
    }
    stmt = "SELECT COUNT(*) FROM reft.history"
    with no_jobs(stmt):
        assert sess.sql(stmt).collect() == [(len(history),)]

    t.fast_forward("audit")
    at = now()
    assert sess.sql(
        f"SELECT COUNT(*) FROM reft TIMESTAMP AS OF '{at}'"
    ).collect()[0][0] == 3
    history = [r.snapshot_id for r in t.history_df(spark).collect()]
    assert history[-1] == staged.snapshot_id
    assert sess.sql(stmt).collect() == [(len(history),)]

    # a rollback commits forward: what it undid stays in the log
    rolled = t.rollback_to(history[-2])
    assert [r.snapshot_id for r in t.history_df(spark).collect()] == [
        *history, rolled.snapshot_id
    ]
