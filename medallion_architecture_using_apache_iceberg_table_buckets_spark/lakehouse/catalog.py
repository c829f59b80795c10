"""Warehouse catalog: namespaces + tables + SQL-facing views.

Reference parity (SURVEY.md §2.11): `CREATE NAMESPACE IF NOT EXISTS`
(scripts/raw-bronze.py:113), `SHOW NAMESPACES` / `USE` / `SHOW
TABLES` (README.md:220-222), `spark.catalog.tableExists`
(scripts/raw-bronze.py:180). Namespacing is a warehouse directory
tree: ``<warehouse>/<namespace>/<table>``.

``write`` is the one create-on-first-write path: the first append or
overwrite of a missing table creates it from the frame's schema
(scripts/raw-bronze.py:180-185). SQL runs through ``sql_session``
(lakehouse/sql.py), which attaches the active namespace's tables a
statement names as bare-name views with ``<table>.history``-style
metadata tables — the reference's interactive queries
(README.md:220-229).
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .table import Table


class Catalog:
    def __init__(self, warehouse: str | Path):
        self.warehouse = Path(warehouse)
        self.warehouse.mkdir(parents=True, exist_ok=True)

    # -- namespaces (D2, D3) -------------------------------------------
    def create_namespace(self, namespace: str) -> None:
        (self.warehouse / namespace).mkdir(parents=True, exist_ok=True)

    def namespaces(self) -> list[str]:
        return sorted(
            p.name for p in self.warehouse.iterdir() if p.is_dir()
        )

    def drop_namespace(self, namespace: str, force: bool = False) -> None:
        ns = self.warehouse / namespace
        if force:
            shutil.rmtree(ns, ignore_errors=True)
        else:
            ns.rmdir()  # fails if non-empty, like DROP NAMESPACE

    # -- tables (D5, D6, D9) -------------------------------------------
    def table_path(self, namespace: str, name: str) -> Path:
        return self.warehouse / namespace / name

    def table(self, namespace: str, name: str) -> Table:
        return Table(self.table_path(namespace, name))

    def table_exists(self, namespace: str, name: str) -> bool:
        return self.table(namespace, name).exists()

    def tables(self, namespace: str) -> list[str]:
        ns = self.warehouse / namespace
        if not ns.is_dir():
            return []
        return sorted(
            p.name for p in ns.iterdir() if Table(p).exists()
        )

    def create_table(
        self,
        namespace: str,
        name: str,
        schema: T.StructType,
        partition_by: Iterable[str] = (),
        properties: dict[str, str] | None = None,
        replace: bool = False,
    ) -> Table:
        self.create_namespace(namespace)
        if self.view_exists(namespace, name):
            # One name universe per namespace, enforced in BOTH
            # directions: create_view refuses to shadow a table, and a
            # table must not silently hide behind an existing view
            # (the SQL session registers stored views after tables, so
            # an unguarded create here would make every SELECT resolve
            # to the stale view).
            raise ValueError(
                f"{namespace}.{name} is a view; tables cannot shadow it"
            )
        return Table.create(
            self.table_path(namespace, name),
            schema,
            partition_by=partition_by,
            properties=properties,
            replace=replace,
        )

    def write(
        self,
        namespace: str,
        name: str,
        df: DataFrame,
        mode: str = "append",
        partition_by: Iterable[str] = (),
        properties: dict[str, str] | None = None,
    ) -> Table:
        """Append (``mode="append"``) or overwrite ``df`` into the
        table, creating it from ``df.schema`` first if it is missing —
        the create commit, then the write commit. ``partition_by`` and
        ``properties`` apply only to that create."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append or overwrite, got {mode!r}")
        if self.table_exists(namespace, name):
            t = self.table(namespace, name)
        else:
            t = self.create_table(
                namespace, name, df.schema,
                partition_by=partition_by, properties=properties,
            )
        if mode == "append":
            t.append(df)
        else:
            t.overwrite(df)
        return t

    def drop_table(self, namespace: str, name: str) -> None:
        shutil.rmtree(self.table_path(namespace, name), ignore_errors=True)

    def rename_table(
        self, namespace: str, name: str, new_namespace: str, new_name: str
    ) -> Table:
        """ALTER TABLE ... RENAME TO: one directory rename — every
        snapshot, data file, ref, and index moves with it (all table
        paths are RELATIVE to the table root by design). Refuses to
        clobber an existing table."""
        src = self.table_path(namespace, name)
        if not Table(src).exists():
            raise KeyError(f"no table {namespace}.{name}")
        self.create_namespace(new_namespace)
        dst = self.table_path(new_namespace, new_name)
        if dst.exists():
            raise ValueError(
                f"table {new_namespace}.{new_name} already exists"
            )
        if self.view_exists(new_namespace, new_name):
            raise ValueError(
                f"{new_namespace}.{new_name} is a view; tables cannot "
                f"shadow it"
            )
        os.rename(src, dst)
        return Table(dst)

    # -- SQL views (Iceberg view-spec twin: the catalog stores the
    # SQL representation; engines re-resolve it at read time) --------
    def _views_path(self, namespace: str):
        return self.warehouse / namespace / "_VIEWS.json"

    def views(self, namespace: str) -> dict[str, str]:
        """Stored view definitions (name -> SQL text) in CREATION
        order — later views may reference earlier ones, exactly the
        order the registration pass replays."""
        import json

        p = self._views_path(namespace)
        if not p.exists():
            return {}
        return json.loads(p.read_text())

    def _write_views(self, namespace: str, views: dict[str, str]) -> None:
        import json
        import uuid as _uuid

        p = self._views_path(namespace)
        tmp = p.parent / f".VIEWS.{_uuid.uuid4().hex}"
        tmp.write_text(json.dumps(views, indent=0))
        os.replace(tmp, p)

    def view_exists(self, namespace: str, name: str) -> bool:
        return name in self.views(namespace)

    def create_view(
        self,
        namespace: str,
        name: str,
        sql_text: str,
        replace: bool = False,
    ) -> None:
        """Store a named SQL view (the Iceberg view-spec model: the
        catalog persists the SQL representation, not data; readers
        re-resolve it against current table state, so a view always
        reflects the latest snapshots). The registry write is an
        atomic os.replace (readers never see a torn file); view DDL
        itself follows the catalog's single-writer operating model —
        unlike table commits there is no expected-parent CAS, so two
        concurrent CREATE VIEWs could lose one (document-level
        read-modify-write). Refuses to shadow a table — one
        namespace, one name universe."""
        if namespace not in self.namespaces():
            raise ValueError(f"namespace {namespace!r} does not exist")
        if self.table_exists(namespace, name):
            raise ValueError(
                f"{namespace}.{name} is a table; views cannot shadow it"
            )
        views = self.views(namespace)
        if name in views:
            if not replace:
                raise ValueError(
                    f"view {namespace}.{name} already exists"
                )
            # Re-append: the registry is replayed in creation order at
            # attach time, so a REPLACEd body must move to the END of
            # the order — it may now reference views created after the
            # original slot, and nothing later can depend on it without
            # itself being re-resolvable (views are re-resolved from
            # SQL text, never snapshot-frozen).
            del views[name]
        views[name] = sql_text
        self._write_views(namespace, views)

    def drop_view(self, namespace: str, name: str) -> None:
        views = self.views(namespace)
        if name not in views:
            raise KeyError(f"no view {namespace}.{name}")
        del views[name]
        self._write_views(namespace, views)

    # -- SQL surface (D4, D7; README.md:220-229) -----------------------
    def sql_session(
        self, spark: SparkSession, namespace: str | None = None
    ) -> "SqlSession":
        """Statement dispatcher for the reference's SQL surface
        (CREATE NAMESPACE / SHOW / USE / DROP / MERGE INTO / SELECT) —
        see lakehouse/sql.py."""
        from .sql import SqlSession

        return SqlSession(spark, self, namespace)
